"""The benchmark's workloads.

Each workload is one closed-loop client: a single Python thread that
sends its next request only after the previous one returned.  A workload
generates its inputs in :meth:`setup`, runs timed passes in
:meth:`measure` and checks every output in :meth:`check`, which runs
after measurement, outside any timed region.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow.parquet as pq

from perfbench import gate, gen

#: registry slot → (workload, family).  The three slot workloads together
#: run every registered slot once.
SLOT_FAMILIES: dict[str, tuple[str, str]] = {
    **{s: ("explore", "hist") for s in (
        "hist_lineitem_price", "hist_mixed_sources", "hist_density_kde",
        "histogram_drift_groups")},
    **{s: ("explore", "relational") for s in (
        "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue", "window_funcs",
        "topk_per_group", "grouping_analytics", "set_ops", "asof_join_events",
        "scalar_unpivot_part", "summary_stats", "approx_sketches")},
    **{s: ("explore", "events") for s in (
        "events_window_agg", "events_stream_hist", "events_interval_join",
        "events_session_window")},
    **{s: ("explore", "extended") for s in (
        "join_variants", "range_join_bands", "salted_skew_join", "grouped_hist_pandas",
        "hist_pivot_pandas_shape")},
    **{s: ("curate", "dedup") for s in ("dedup_exact", "dedup_incremental", "pipeline_curate")},
    **{s: ("curate", "neardup") for s in (
        "neardup_jaccard_exact", "neardup_minhash_lsh", "neardup_clusters",
        "neardup_simhash", "neardup_containment")},
    **{s: ("curate", "sampling") for s in (
        "corpus_shuffle_shards", "sampling_splits", "corpus_token_budget")},
    "pack_sequences": ("curate", "packing"),
    "decontaminate_eval": ("curate", "decontam"),
    **{s: ("curate", "text") for s in (
        "text_winnowing_fp", "text_stats", "text_scrub_repetition", "text_tfidf",
        "text_perplexity", "text_normalize_unicode", "corpus_profile")},
    **{s: ("vector_serve", "vector") for s in (
        "embedding_quantize", "vector_exact_search", "vector_ann_topk", "word2vec_topk")},
    **{s: ("vector_serve", "multimodal") for s in ("multimodal_features", "multimodal_pipeline")},
}

FAMILIES = (
    "hist", "relational", "events", "extended", "dedup", "neardup", "text",
    "sampling", "packing", "decontam", "vector", "multimodal",
)

RELATIONAL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
CORPUS_TABLES = ("lineitem", "documents", "embeddings")
ALL_TABLES = RELATIONAL_TABLES + ("documents", "embeddings")

#: the slot of each family that the gated ``explore`` pass runs, over an
#: sf0.01 copy of the tables: the family's cheapest slot at that scale
FAMILY_SLOTS = (
    "hist_lineitem_price", "q1_pricing_summary", "events_interval_join", "salted_skew_join",
    "dedup_exact", "neardup_containment", "text_winnowing_fp", "corpus_token_budget",
    "pack_sequences", "decontaminate_eval", "word2vec_topk", "multimodal_features",
)


@dataclass
class Record:
    """One request: what ran, how long it took and whether it was right."""

    name: str
    kind: str
    latency: float
    family: str | None = None
    span: int | None = None
    rows: list | None = None  # kept until the check, then dropped
    cols: list | None = None
    result: object = None
    error: str | None = None
    nrows: int = 0  # rows the request returned to the driver


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    sf: float
    smoke: bool
    data: str = ""


class Collected(NamedTuple):
    rows: list
    cols: list


def _timed(ctx: Ctx, rec_name: str, kind: str, fn, family=None) -> Record:
    """Run ``fn()`` as one request; a raise is recorded, not propagated."""
    with ctx.tracer.span(f"request.{kind}", job_group=True, kind=kind, request=rec_name) as sp:
        t0 = time.perf_counter()
        try:
            out = fn()
            err = None
        except Exception as e:  # a failed request is counted, the loop goes on
            out, err = None, f"{type(e).__name__}: {e}"[:500]
        lat = time.perf_counter() - t0
    rec = Record(rec_name, kind, lat, family=family, span=sp.id if sp else None, error=err)
    if isinstance(out, Collected):
        rec.rows, rec.cols = out.rows, out.cols
        rec.nrows = len(out.rows)
    else:
        rec.result = out
        rec.nrows = len(out) if hasattr(out, "__len__") else 0
    return rec


def _collect(ctx: Ctx, build) -> Collected:
    """A build span (the lazy plan) then an action span (its collect)."""
    with ctx.tracer.span("build"):
        frame = build()
    with ctx.tracer.span("action"):
        rows = frame.collect()
    return Collected(rows, frame.columns)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    #: registry slots one pass runs, in order
    slot_names: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.records: list[Record] = []
        self.passes: list[float] = []
        self.extra: dict[str, list[float]] = {}  # workload-specific samples
        self.slot_data = ""  # where the slots read their tables

    # -- set-up ---------------------------------------------------------------
    def generate(self, data_dir: str) -> None:
        """Write the seeded inputs (once per run, outside ``setup_s``)."""
        self.ctx.data = self.slot_data = data_dir
        gen.write_tables(gen.star_tables(self.ctx.seed, self.ctx.sf, self.tables), data_dir)
        self.prepare()

    def prepare(self) -> None:
        pass

    def warmup(self) -> None:
        """The first library call of a fresh session (timed in ``setup_s``)."""
        from pyspark_dist_explore_spark.operators import histogram
        from pyspark_dist_explore_spark.sources.tables import load_table

        df = load_table(self.ctx.spark, self.ctx.data, self.tables[0])
        col = next(f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "long", "integer"))
        histogram.compute_histogram([(col, df, col)], bins=10).collect()

    # -- measurement -------------------------------------------------------------
    def run_slot(self, slot: str) -> Record:
        from pyspark_dist_explore_spark.plans.queries import REGISTRY

        spec = REGISTRY[slot]
        return _timed(
            self.ctx, slot, "slot",
            lambda: _collect(self.ctx, lambda: spec.build(self.ctx.spark, self.slot_data)),
            family=SLOT_FAMILIES[slot][1],
        )

    def one_pass(self, p: int) -> None:
        for s in self.slot_names:
            self.records.append(self.run_slot(s))

    def reference(self) -> None:
        """Untimed work the output gate needs, run between set-up and
        measurement."""

    def measure(self, seconds: float) -> None:
        """Whole passes, each a fixed amount of work, until ``seconds`` have
        elapsed (at least one)."""
        t_start = time.perf_counter()
        p = 0
        with self.ctx.tracer.span(f"workload.{self.name}"):
            while True:
                t0 = time.perf_counter()
                with self.ctx.tracer.span("pass"):
                    self.one_pass(p)
                self.passes.append(time.perf_counter() - t0)
                p += 1
                if self.ctx.smoke or time.perf_counter() - t_start >= seconds:
                    break

    def latency_records(self) -> list[Record]:
        return self.records

    def sample(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)

    # -- output gate ----------------------------------------------------------------
    def check(self) -> None:
        from pyspark_dist_explore_spark.plans.queries import REGISTRY

        cons = {d: gate.duckdb_con(d) for d in {self.ctx.data, self.slot_data}}
        try:
            for r in self.records:
                if r.error is None and r.kind == "slot":
                    r.error = gate.check_slot(cons[self.slot_data], REGISTRY[r.name].oracle, r.rows, r.cols)
                elif r.error is None:
                    r.error = self.check_record(cons[self.ctx.data], r)
                r.rows = r.result = None
        finally:
            for con in cons.values():
                con.close()

    def check_record(self, con, rec: Record) -> str | None:
        return None


class Curate(Workload):
    """The 20 corpus slots (dedup, near-dup, sampling, packing, text)."""

    name = "curate"
    tables = ("documents", "lineitem", "embeddings")
    slot_names = tuple(s for s, (w, _) in SLOT_FAMILIES.items() if w == "curate")


class ExploreSlots(Workload):
    """The 24 reference-parity and analytics slots."""

    name = "explore_slots"
    tables = ("lineitem",) + tuple(t for t in ALL_TABLES if t != "lineitem")
    slot_names = tuple(s for s, (w, _) in SLOT_FAMILIES.items() if w == "explore")


class VectorServe(Workload):
    """Land an IVF-PQ index, load it and serve top-k batches from it, then
    the vector and multimodal slots."""

    name = "vector_serve"
    tables = ("embeddings", "documents")
    slot_names = tuple(s for s, (w, _) in SLOT_FAMILIES.items() if w == "vector_serve")
    M, DIM, K, N_PROBE, N_CENTROIDS, N_ASSIGN, BATCH = 8, 64, 10, 4, 16, 2, 8
    #: top-k batches served per pass
    SERVE_BATCHES = 8

    def prepare(self) -> None:
        emb = pq.read_table(os.path.join(self.ctx.data, "embeddings.parquet"))
        self.batches = gen.query_batches(self.ctx.seed, emb, n_batches=64, batch=self.BATCH)
        flat = emb.column("embedding").combine_chunks().flatten().to_numpy()
        self.corpus = gen.grid_vectors(flat.reshape(emb.num_rows, -1))
        self.served: list[tuple[np.ndarray, Record]] = []

    def _grid_corpus(self):
        from pyspark.sql import functions as F

        return self.ctx.spark.read.parquet(os.path.join(self.ctx.data, "embeddings.parquet")).select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: F.round(x * F.lit(1e6))
            ).alias("embedding"),
        )

    def _serve(self, q: np.ndarray, index) -> Record:
        from pyspark_dist_explore_spark import ivf_pq_topk, rotate_embeddings

        spark, tr = self.ctx.spark, self.ctx.tracer
        cents, cb, codes, assign, params = index
        schema = "query_id bigint, embedding array<double>"

        def fn():
            qdf = spark.createDataFrame(
                [(i, [float(x) for x in row]) for i, row in enumerate(q)], schema
            )
            with tr.span("rotate"):
                rot = rotate_embeddings(qdf, dim=self.DIM, salt=params["rotation_salt"]).collect()
            qrot = spark.createDataFrame([tuple(r) for r in rot], schema)
            with tr.span("topk"):
                return _collect(self.ctx, lambda: ivf_pq_topk(
                    None, qrot, k=self.K, m=self.M, dim=self.DIM, n_probe=self.N_PROBE,
                    n_centroids=self.N_CENTROIDS, n_assign=self.N_ASSIGN,
                    centroids=cents, codebooks=cb, codes=codes, assignments=assign,
                ))

        rec = _timed(self.ctx, "serve", "serve", fn)
        self.served.append((q, rec))
        return rec

    def serve_pass(self, p: int) -> None:
        """Land the index, load it, serve ``SERVE_BATCHES`` seeded batches."""
        from pyspark_dist_explore_spark import load_pq_index, write_pq_index

        idx = os.path.join(self.ctx.work, f"pq_index_{p}")
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("index_write", job_group=True):
            write_pq_index(
                self._grid_corpus(), idx, m=self.M, dim=self.DIM, n_centroids=self.N_CENTROIDS,
                n_assign=self.N_ASSIGN, rotation_salt=f"bench{self.ctx.seed}",
            )
        t1 = time.perf_counter()
        with tr.span("index_load", job_group=True):
            index = load_pq_index(self.ctx.spark, idx, expect={"m": self.M, "dim": self.DIM})
        t2 = time.perf_counter()
        self.sample("index_build_s", t1 - t0)
        self.sample("index_load_s", t2 - t1)
        n = 1 if self.ctx.smoke else self.SERVE_BATCHES
        for _ in range(n):
            self.records.append(self._serve(self.batches[len(self.served) % len(self.batches)], index))
        self.sample("serve_s", time.perf_counter() - t2)
        self.sample("queries", n * self.BATCH)

    def one_pass(self, p: int) -> None:
        self.serve_pass(p)
        super().one_pass(p)

    def latency_records(self) -> list[Record]:
        return [r for r in self.records if r.kind == "serve"]

    def check_record(self, con, rec: Record) -> str | None:
        if rec.kind != "serve":
            return None
        q = next(q for q, r in self.served if r is rec)
        hits: dict[int, list[tuple[int, int]]] = {}
        for row in rec.rows:
            hits.setdefault(int(row["query_id"]), []).append((int(row["rank"]), int(row["vec_id"])))
        truth = gate.exact_topk_numpy(self.corpus, q, self.K)
        recall = []
        for qi in range(len(q)):
            got = sorted(hits.get(qi, []))
            ids = [v for _, v in got]
            if [r for r, _ in got] != list(range(1, self.K + 1)) or len(set(ids)) != self.K:
                return f"query {qi}: ranks/ids malformed: {got}"
            if not all(0 <= v < len(self.corpus) for v in ids):
                return f"query {qi}: unknown vec_id in {ids}"
            recall.append(len(set(ids) & set(int(t) for t in truth[qi])) / self.K)
        for x in recall:
            self.sample("recall_at_10", x)
        return None


class Explore(VectorServe):
    """An analyst's interactive session: seeded histogram, ECDF, KDE and
    summary requests over the star schema, top-k similarity requests
    against an index landed in the same session, and one slot of every
    slot family over an sf0.01 copy of the tables."""

    name = "explore"
    tables = ("lineitem", "customer", "part", "orders", "events", "embeddings")
    slot_names = FAMILY_SLOTS
    SERVE_BATCHES = 2
    SLOT_SF = 0.01

    def generate(self, data_dir: str) -> None:
        super().generate(data_dir)
        self.slot_data = data_dir + "_slots"
        sf = min(self.SLOT_SF, self.ctx.sf)
        gen.write_tables(gen.star_tables(self.ctx.seed, sf, ALL_TABLES), self.slot_data)

    def prepare(self) -> None:
        super().prepare()
        self.requests = gen.explore_requests(self.ctx.seed, rounds=64)
        self.by_name: dict[str, gen.ExploreRequest] = {}

    def _param(self, req: gen.ExploreRequest) -> Record:
        from pyspark_dist_explore_spark import viz
        from pyspark_dist_explore_spark.operators import histogram, stats
        from pyspark_dist_explore_spark.sources.tables import load_table

        spark, ctx = self.ctx.spark, self.ctx
        rng = (req.lo, req.hi) if req.lo is not None else None
        series = lambda: [(req.column, load_table(spark, ctx.data, req.table), req.column)]  # noqa: E731

        if req.kind == "pandas_hist":
            def fn():
                with ctx.tracer.span("to_pandas"):
                    df = load_table(spark, ctx.data, req.table).select(req.column)
                    return viz.pandas_histogram(df, bins=req.bins, range=rng)
        else:
            build = {
                "hist": lambda: histogram.compute_histogram(series(), bins=req.bins, range=rng),
                "ecdf": lambda: histogram.compute_ecdf(series(), points=req.bins),
                "kde": lambda: histogram.compute_kde(series(), num=req.bins),
                "describe": lambda: stats.describe_exact(
                    load_table(spark, ctx.data, req.table), [req.column]
                ),
            }[req.kind]
            fn = lambda: _collect(ctx, build)  # noqa: E731
        name = f"{req.kind}:{req.table}.{req.column}:{req.bins}:{req.lo}:{req.hi}"
        self.by_name[name] = req
        return _timed(ctx, name, req.kind, fn)

    def one_pass(self, p: int) -> None:
        n = len(gen.EXPLORE_KINDS)
        for req in self.requests[p * n : (p + 1) * n]:
            self.records.append(self._param(req))
        super().one_pass(p)

    def latency_records(self) -> list[Record]:
        return self.records

    def check_record(self, con, rec: Record) -> str | None:
        if rec.kind == "serve":
            return super().check_record(con, rec)
        req = self.by_name[rec.name]
        got = rec.result if req.kind == "pandas_hist" else rec.rows
        return gate.CHECKS[req.kind](con, req, got)


class Curate10x(Workload):
    """Ingest → curate → land training shards → verify → read back, over a
    10× copy-prefixed corpus."""

    name = "curate_10x"
    COPIES, SHARDS = 10, 8
    #: base documents per unit of scale factor: 2,000 at sf0.1, so 20,000
    #: documents at 10×, where per-row work is the larger share of the pass
    BASE_DOCS_PER_SF = 20_000

    def generate(self, data_dir: str) -> None:
        self.ctx.data = self.slot_data = data_dir
        os.makedirs(data_dir, exist_ok=True)
        n = max(100, int(self.BASE_DOCS_PER_SF * self.ctx.sf))
        base = gen.documents(self.ctx.seed, n, stream="curate_base").select(["doc_id", "text"])
        self.n_docs = base.num_rows * self.COPIES
        self.corpus_1x = os.path.join(data_dir, "corpus_1x.parquet")
        pq.write_table(base, self.corpus_1x)
        self.corpus = os.path.join(data_dir, "corpus_10x.parquet")
        pq.write_table(gen.copy_corpus(base, self.COPIES), self.corpus)

    def warmup(self) -> None:
        from pyspark_dist_explore_spark.operators.textstats import text_stats

        text_stats(self.ctx.spark.read.parquet(self.corpus_1x), "text", "doc_id").collect()

    def _curate(self, path: str):
        from pyspark_dist_explore_spark.pipeline import curate_documents, minhash_pair_fn

        docs = self.ctx.spark.read.parquet(path)
        kept = curate_documents(
            docs, "text", "doc_id", min_quality=0.0,
            pair_fn=minhash_pair_fn(threshold=0.8), materialize=True,
        )
        return docs, kept

    def one_pass(self, p: int) -> None:
        from pyspark_dist_explore_spark.sources.sinks import (
            verify_training_shards,
            write_training_shards,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        out = os.path.join(self.ctx.work, f"shards_{p}")
        stage: dict[str, float] = {}

        def fn():
            t = time.perf_counter()
            with tr.span("curate"):
                docs, kept = self._curate(self.corpus)
            stage["curate_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("write"):
                write_training_shards(kept.join(docs, "doc_id"), "doc_id", out, shards=self.SHARDS)
            stage["shard_write_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("verify"):
                report = verify_training_shards(spark, out).collect()
            stage["shard_verify_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("load"):
                read_back = spark.read.parquet(out).count()
            stage["read_back_s"] = time.perf_counter() - t
            return report, read_back

        rec = _timed(self.ctx, "curate_pass", "pipeline", fn)
        if rec.error is None:
            rec.nrows = len(rec.result[0]) + 1
        for k, v in stage.items():
            self.sample(k, v)
        self.sample("written_mb", _dir_mb(out))
        self.sample("input_mb", _dir_mb(self.corpus))
        self.records.append(rec)

    def reference(self) -> None:
        """Curate the 1× corpus: the gate's reference count.  Being the
        first curation of the run, it also runs every curation code path
        once before the timed pass; its time is kept as a sample."""
        t = time.perf_counter()
        _, kept1 = self._curate(self.corpus_1x)
        self.n1 = kept1.count()
        self.sample("curate_1x_first_s", time.perf_counter() - t)

    def check(self) -> None:
        """Survivors are exactly COPIES × the 1× survivors, the landed
        shards verify clean, and every written row reads back."""
        n1 = self.n1
        for rec in self.records:
            if rec.error is not None:
                continue
            report, read_back = rec.result
            written = sum(int(r["expected_rows"] or 0) for r in report)
            if not all(r["ok"] for r in report):
                rec.error = f"shard verification failed: {report}"
            elif written != self.COPIES * n1:
                rec.error = f"{written} survivors at {self.COPIES}x, want {self.COPIES} x {n1}"
            elif read_back != written:
                rec.error = f"read back {read_back} rows, wrote {written}"
            rec.result = None
        self.extra["survivors_1x"] = [float(n1)]


def _dir_mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / (1024 * 1024)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


WORKLOADS = {w.name: w for w in (Explore, Curate10x, Curate, VectorServe, ExploreSlots)}
