"""Curation-pipeline tests (pipeline.curate_documents) + oracle pins for
queries deregistered in its favor.

The registered ``pipeline_curate`` query gets full DuckDB-oracle parity
via the test_oracle_parity sweep; these tests cover what that sweep
can't: stage-by-stage invariants, the pluggable MinHash pair generator,
and the deregistered ``dedup_fingerprint`` sub-plan staying green.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators import dedup
from pyspark_dist_explore_spark.pipeline import curate_documents
from pyspark_dist_explore_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_dedup_fingerprint_still_oracle_green(spark):
    """dedup.fingerprint_dedup (md5 over normalized text, min-id
    survivor, group size) hash-matches its DuckDB twin."""
    oracle = f"""
SELECT md5({dedup.NORMALIZE_SQL.format(c='text')}) AS fingerprint,
       min(doc_id) AS survivor_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""
    compare(
        spark,
        SF_SMOKE,
        lambda s, d: dedup.fingerprint_dedup(load_table(s, d, "documents"), "text", "doc_id"),
        oracle,
    )


def test_curate_output_invariants(spark):
    docs = _docs(spark)
    out = curate_documents(docs, "text", "doc_id", min_quality=0.0).collect()
    assert out, "curation with no quality bar must keep survivors"
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids)), "one row per surviving doc"
    src_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert set(ids) <= src_ids, "survivors come from the input"
    assert {r.split for r in out} <= {"train", "val", "test"}
    assert all(0.0 <= r.quality <= 1.0 for r in out)


def test_curate_filters_shrink_monotonically(spark):
    docs = _docs(spark)
    loose = curate_documents(docs, "text", "doc_id", min_quality=0.0).count()
    tight = curate_documents(
        docs, "text", "doc_id", min_quality=0.908, allowed_langs=["en"]
    ).count()
    assert 0 < tight < loose, "tighter filters must strictly shrink the keep-list"


def test_curate_neardup_stage_drops_cluster_members(spark):
    """A doc duplicated under a distinct id must lose exactly its copy:
    the cluster survivor (min id) stays, the near-dup goes."""
    docs = _docs(spark).limit(50)
    dup = docs.where(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), *[
            F.col(c) for c in docs.columns if c != "doc_id"
        ]
    )
    out = curate_documents(
        docs.unionByName(dup), "text", "doc_id", min_quality=0.0
    )
    kept = {r.doc_id for r in out.collect()}
    assert 0 in kept
    assert 1_000_000 not in kept, "exact copy under a new id must be dropped"


def test_curate_neardup_keep_best_elects_scored_copy(spark):
    """X60 wiring: with neardup_keep_score= the cluster keeps the
    HIGHEST-scoring duplicate instead of the min-id one; everything
    outside the duplicated cluster is unchanged vs the default run."""
    # NEAR-dups (not exact: exact dedup runs first and would drop the
    # copy before election) — 12 shared tokens + 1 extra = jaccard
    # 12/13 ≈ 0.923 ≥ the 0.9 default; other docs are token-disjoint
    base_text = " ".join(f"tok{i}" for i in range(12))
    both = spark.createDataFrame(
        [(i, f"solo{i}a solo{i}b solo{i}c solo{i}d") for i in range(1, 6)]
        + [(10, base_text), (20, base_text + " extraterm")],
        ["doc_id", "text"],
    )
    # score the high-id variant up: the election must flip the survivor
    score = F.when(F.col("doc_id") == 20, F.lit(10.0)).otherwise(F.lit(1.0))
    out = curate_documents(
        both, "text", "doc_id", min_quality=0.0, neardup_keep_score=score
    )
    kept = {r.doc_id for r in out.collect()}
    assert 20 in kept and 10 not in kept, "best-score copy must win"
    assert set(range(1, 6)) <= kept  # singletons untouched
    # lower-is-better inverts the election back to the low-scored doc 10
    inv = curate_documents(
        both, "text", "doc_id", min_quality=0.0,
        neardup_keep_score=score, neardup_keep_higher_is_better=False,
    )
    kept_inv = {r.doc_id for r in inv.collect()}
    assert 10 in kept_inv and 20 not in kept_inv
    # constant score == the default min-id run, row for row
    base = curate_documents(both, "text", "doc_id", min_quality=0.0)
    const = curate_documents(
        both, "text", "doc_id", min_quality=0.0, neardup_keep_score=F.lit(1.0)
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, const.collect()))


def test_curate_pluggable_minhash_pair_fn(spark):
    """The scale path: swap the quadratic exact-Jaccard pair stage for
    banded MinHash-LSH via the ready-made factory.  Same output contract
    (schema, unique survivors)."""
    from pyspark_dist_explore_spark.pipeline import minhash_pair_fn

    docs = _docs(spark)
    out = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, pair_fn=minhash_pair_fn()
    )
    rows = out.collect()
    assert rows
    assert out.columns == ["doc_id", "lang_pred", "quality", "split"]
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))


def test_curate_rejects_unstaged_materialize(spark):
    """Staging is not optional: materialize=False fails loudly instead of
    being ignored."""
    import pytest

    with pytest.raises(ValueError, match="materialize"):
        curate_documents(_docs(spark), min_quality=0.0, materialize=False)


def test_curate_scrub_and_repetition_stages(spark):
    """scrub=True must make the pipeline dedup on SCRUBBED text (two docs
    differing only in PII collapse to one), and max_dup_token_frac must
    drop repetitive docs."""
    docs = spark.createDataFrame(
        [
            (1, "good clean document with plenty of distinct readable words here"),
            (2, "another entirely different page covering various unrelated topics"),
            (3, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        ],
        ["doc_id", "text"],
    )
    base = curate_documents(docs, "text", "doc_id", min_quality=0.0)
    assert {r.doc_id for r in base.collect()} == {1, 2, 3}

    # two docs identical up to the PII span scrub to the same text
    scrub_dup = spark.createDataFrame(
        [
            (1, "reach me at a@b.io for details on the offer"),
            (2, "reach me at c.d@e.org for details on the offer"),
        ],
        ["doc_id", "text"],
    )
    out = curate_documents(scrub_dup, "text", "doc_id", min_quality=0.0, scrub=True)
    assert {r.doc_id for r in out.collect()} == {1}, "PII-only variants must collapse"

    filtered = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, max_dup_token_frac=0.5
    )
    kept = {r.doc_id for r in filtered.collect()}
    assert 3 not in kept and {1, 2} <= kept


def test_curate_snapshot_dir_overwrite_guard(spark, tmp_path):
    """A non-empty snapshot_dir without a _SUCCESS marker must be refused
    (and left untouched); a previous snapshot (has _SUCCESS) and a fresh
    path must both be writable."""
    import pytest

    docs = _docs(spark).limit(30)
    precious = tmp_path / "precious"
    precious.mkdir()
    (precious / "data.txt").write_text("do not delete")
    with pytest.raises(ValueError, match="_SUCCESS"):
        curate_documents(
            docs, "text", "doc_id", min_quality=0.0, snapshot_dir=str(precious)
        )
    assert (precious / "data.txt").read_text() == "do not delete"

    snap = tmp_path / "snap"
    curate_documents(docs, "text", "doc_id", min_quality=0.0, snapshot_dir=str(snap))
    assert (snap / "_SUCCESS").exists()
    # a second run over the same snapshot dir is a legitimate overwrite
    curate_documents(docs, "text", "doc_id", min_quality=0.0, snapshot_dir=str(snap))


def test_curate_snapshot_dir_replaces_scoring_rescans(spark, tmp_path):
    """snapshot_dir (the 100 TB materialization form) must (a) produce
    the SAME keep-list as the in-memory pipeline, (b) leave the deduped
    snapshot on disk as readable parquet, and (c) make the returned
    plan's only parquet scans read the SNAPSHOT, not the source."""
    import io, contextlib

    docs = _docs(spark)
    snap = str(tmp_path / "dedup_snapshot")
    out = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, snapshot_dir=snap
    )
    base = curate_documents(docs, "text", "doc_id", min_quality=0.0)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))
    snap_cols = spark.read.parquet(snap).columns
    assert {"doc_id", "quality", "lang_pred"} <= set(snap_cols)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    scans = [ln for ln in plan.splitlines() if "Location:" in ln]
    assert scans and all("dedup_snapshot" in ln for ln in scans)


def test_curate_repetition_filter_keeps_zero_token_docs(spark):
    """The max_dup_token_frac filter drops VIOLATORS via anti-join: a
    document with zero tokens (whitespace/punctuation-only) emits no
    repetition row and must pass through, not be silently dropped."""
    docs = spark.createDataFrame(
        [
            (1, "normal document with several distinct words present"),
            (2, "--- ... !!!"),  # punct-only tokens, all distinct → kept
            (3, ""),             # empty text → ZERO tokens, no repetition row
            (4, "dup dup dup dup dup dup dup dup"),
        ],
        ["doc_id", "text"],
    )
    out = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, max_dup_token_frac=0.5
    )
    kept = {r.doc_id for r in out.collect()}
    assert 4 not in kept, "repetitive doc must be dropped"
    assert 3 in kept, "zero-token doc must pass the repetition filter"
    assert 1 in kept


def test_snapshot_guard_degrades_without_jvm(spark, tmp_path):
    """On sessions with no JVM handle (Spark Connect), the snapshot-dir
    overwrite guard must warn and no-op instead of raising
    AttributeError."""
    import warnings

    from pyspark_dist_explore_spark.pipeline import _check_snapshot_dir_overwritable

    class _NoJvmSession:
        @property
        def _jvm(self):
            raise AttributeError("'SparkSession' object has no attribute '_jvm'")

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _check_snapshot_dir_overwritable(_NoJvmSession(), str(tmp_path / "x"))
    assert any("guard unavailable" in str(x.message) for x in w)


_EVAL_PASSAGE = (
    "the quick brown fox jumps over the lazy sleeping dog tonight for fun"
)  # exactly 13 tokens → one 13-gram


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc containing a 13-token passage from the eval set
    must be flagged; unrelated docs must come back clean with a zero
    count (keep-all left join)."""
    from pyspark_dist_explore_spark.operators.decontam import decontaminate

    eval_df = spark.createDataFrame([(100, _EVAL_PASSAGE)], ["doc_id", "text"])
    train = spark.createDataFrame(
        [
            (1, "completely unrelated text about different things entirely here"),
            (2, f"prefix words then {_EVAL_PASSAGE} and a trailing suffix"),
            (3, "short doc"),  # < 13 tokens → whole-doc gram, no match
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(train, eval_df, "text", "doc_id", ngram_n=13).collect()
    }
    assert len(out) == 3
    assert out[2]["contaminated"] == 1 and out[2]["n_eval_grams"] >= 1
    assert out[1]["contaminated"] == 0 and out[1]["n_eval_grams"] == 0
    assert out[3]["contaminated"] == 0


def test_curate_decontaminate_drops_planted_doc(spark):
    """curate_documents(decontaminate_against=...) must drop exactly the
    docs sharing a >= decontam_ngram n-gram with the eval frame."""
    eval_df = spark.createDataFrame([(0, _EVAL_PASSAGE)], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [
            (1, "a perfectly ordinary training document with distinct readable words"),
            (2, f"leaked benchmark item embedded here {_EVAL_PASSAGE} end of doc"),
            (3, "another clean document covering various unrelated training topics"),
        ],
        ["doc_id", "text"],
    )
    out = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, decontaminate_against=eval_df
    )
    kept = {r.doc_id for r in out.collect()}
    assert 2 not in kept, "contaminated doc must be dropped"
    assert {1, 3} <= kept


def test_decontaminate_empty_eval_set(spark):
    """An empty eval frame must flag nothing (and not error): every doc
    comes back (n_eval_grams=0, contaminated=0)."""
    from pyspark_dist_explore_spark.operators.decontam import decontaminate

    train = spark.createDataFrame(
        [(1, "some training document text here"), (2, "another one entirely")],
        ["doc_id", "text"],
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = decontaminate(train, empty, "text", "doc_id").collect()
    assert len(rows) == 2
    assert all(r["contaminated"] == 0 and r["n_eval_grams"] == 0 for r in rows)


def test_decontaminate_winnow_sandwich(spark):
    """Winnowing-based decontamination must sit exactly between the two
    n-gram operators (the winnowing guarantee): every doc the exact
    (k+window-1)-gram check flags is winnow-flagged, and every
    winnow-flag implies a shared k-gram."""
    from pyspark_dist_explore_spark.operators.decontam import (
        decontaminate,
        decontaminate_winnow,
    )

    k, window = 5, 4
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    train = docs.where(F.col("doc_id") % 10 != 0)
    ev = docs.where(F.col("doc_id") % 10 == 0)

    def flags(df):
        return {r["doc_id"] for r in df.where(F.col("contaminated") == 1).collect()}

    lo = flags(decontaminate(train, ev, "text", "doc_id", ngram_n=k + window - 1))
    mid = flags(decontaminate_winnow(train, ev, "text", "doc_id", k=k, window=window))
    hi = flags(decontaminate(train, ev, "text", "doc_id", ngram_n=k))
    assert lo <= mid <= hi, (sorted(lo - mid), sorted(mid - hi))
    assert hi, "the corpus has near-dups; the k-gram check must flag some"


def test_curate_decontaminate_winnow_method(spark):
    """decontam_method='winnow' must drop the planted contaminated doc
    (the >= decontam_ngram-token shared passage is inside the winnowing
    guarantee) and reject nonsense parameters."""
    import pytest

    eval_df = spark.createDataFrame([(0, _EVAL_PASSAGE)], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [
            (1, "a perfectly ordinary training document with distinct readable words"),
            (2, f"leaked benchmark item embedded here {_EVAL_PASSAGE} end of doc"),
            (3, "another clean document covering various unrelated training topics"),
        ],
        ["doc_id", "text"],
    )
    out = curate_documents(
        docs, "text", "doc_id", min_quality=0.0,
        decontaminate_against=eval_df, decontam_method="winnow",
    )
    kept = {r.doc_id for r in out.collect()}
    assert 2 not in kept and {1, 3} <= kept
    with pytest.raises(ValueError, match="winnow"):
        curate_documents(
            docs, "text", "doc_id", decontaminate_against=eval_df,
            decontam_method="winnow", decontam_ngram=4,
        )
    with pytest.raises(ValueError, match="ngram"):
        curate_documents(
            docs, "text", "doc_id", decontaminate_against=eval_df,
            decontam_method="bogus",
        )


def test_decontaminate_winnow_matches_duckdb(spark):
    """The winnow decontamination variant (md5 fingerprints) has a full
    DuckDB twin: winnowing fingerprint build on ALL docs, train/eval
    split by doc_id % 10, semi-join probe, per-doc verdict — pytest-level
    hash oracle (the variant holds no registry slot)."""
    from pyspark_dist_explore_spark.operators.decontam import decontaminate_winnow
    from pyspark_dist_explore_spark.plans.llm_ops import _winnowing_oracle
    from tests.oracle_utils import compare

    k, window = 5, 4
    oracle = f"""
WITH allfp AS ({_winnowing_oracle(k=k, window=window)}),
tfp AS (SELECT doc_id, fingerprint FROM allfp WHERE doc_id % 10 <> 0),
efp AS (SELECT DISTINCT fingerprint FROM allfp WHERE doc_id % 10 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_eval_fps
  FROM tfp JOIN efp USING (fingerprint) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_eval_fps, CAST(0 AS BIGINT)) AS n_eval_fps,
       CAST(COALESCE(h.n_eval_fps, 0) > 0 AS INT) AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""

    def build(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return decontaminate_winnow(
            docs.where(F.col("doc_id") % 10 != 0),
            docs.where(F.col("doc_id") % 10 == 0),
            "text",
            "doc_id",
            k=k,
            window=window,
            hash_fn="md5",
        )

    compare(spark, SF_SMOKE, build, oracle)


def test_curate_token_budget_stage(spark):
    """token_budget caps the surviving corpus best-quality-first;
    token_budgets does it per predicted language; passing both raises."""
    import pytest

    docs = _docs(spark)
    full = curate_documents(docs, "text", "doc_id", min_quality=0.0)
    full_ids = {r.doc_id for r in full.collect()}
    budgeted = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, token_budget=3000
    )
    rows = budgeted.collect()
    kept = {r.doc_id for r in rows}
    assert kept < full_ids, "a tight budget must strictly shrink the keep-list"
    assert kept, "a 3k-token budget must keep something"
    # kept docs are the top of the quality order: no kept doc may rank
    # below (strictly lower quality bin than) a dropped one
    qual = {r.doc_id: r.quality for r in full.collect()}
    min_kept_bin = min(int(qual[i] * 1000) for i in kept)
    dropped = full_ids - kept
    assert all(int(qual[i] * 1000) <= min_kept_bin for i in dropped)

    mixed = curate_documents(
        docs, "text", "doc_id", min_quality=0.0,
        token_budgets={"en": 2000, "de": 1000},
    )
    assert {r.lang_pred for r in mixed.collect()} <= {"en", "de"}

    with pytest.raises(ValueError, match="not both"):
        curate_documents(
            docs, "text", "doc_id", token_budget=1, token_budgets={"en": 1}
        )


def test_curate_pluggable_containment_pair_fn(spark):
    """Plant a short-doc-inside-long-page pair (low Jaccard — the
    MinHash stage would keep both) and curate with the containment
    pair_fn: the pair must collapse to one survivor (min id), while the
    output contract holds."""
    from pyspark_dist_explore_spark.pipeline import containment_pair_fn

    docs = _docs(spark).limit(40)
    base = docs.where(F.col("doc_id") == 0).select("text").first().text
    host = spark.createDataFrame(
        [(2_000_000, " ".join(f"boiler{i}" for i in range(300)) + " " + base)],
        ["doc_id", "text"],
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("web")).withColumn(
        "n_chars", F.length("text")
    )
    out = curate_documents(
        docs.unionByName(host),
        "text",
        "doc_id",
        min_quality=0.0,
        pair_fn=containment_pair_fn(threshold=0.8, max_df=50),
    )
    kept = {r.doc_id for r in out.collect()}
    assert 0 in kept, "the short original (min id) survives"
    assert 2_000_000 not in kept, "the containing host is clustered with it and dropped"
    assert out.columns == ["doc_id", "lang_pred", "quality", "split"]


def test_curate_ppl_filter_drops_gibberish(spark):
    """max_ppl= with a reference LM drops a planted gibberish doc while
    keeping in-distribution text; without the filter both survive."""
    from pyspark_dist_explore_spark.operators.textstats import term_frequencies

    docs = _docs(spark).limit(40)
    lm = term_frequencies(docs, "text", "doc_id").groupBy("term").agg(
        F.sum("tf").alias("cnt")
    )
    gib = spark.createDataFrame(
        [(3_000_000, "zxqv qqj wvvx kjzq pzzt mmqx " * 20)], ["doc_id", "text"]
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("web")).withColumn(
        "n_chars", F.length("text")
    )
    both = docs.unionByName(gib)
    loose = {r.doc_id for r in curate_documents(
        both, "text", "doc_id", min_quality=0.0).collect()}
    assert 3_000_000 in loose
    strict = {r.doc_id for r in curate_documents(
        both, "text", "doc_id", min_quality=0.0,
        max_ppl=500.0, ppl_lm_counts=lm).collect()}
    assert 3_000_000 not in strict, "gibberish must exceed the ppl bound"
    assert strict == loose - {3_000_000}, "only the gibberish doc is dropped"


def test_curate_boilerplate_line_stage(spark):
    """drop_boilerplate_lines= cleans shared lines before scoring: the
    all-boilerplate doc becomes an empty husk (quality floor 0.4, under
    a 0.5 bar) and drops; docs with real bodies survive with their text
    intact (their exact-dedup fingerprints now differ only by body)."""
    body = " ".join(f"word{i} data{i % 7}" for i in range(30))
    rows = [
        (1, body + "\ncookie banner accept all\nsite footer links"),
        (2, "different body entirely here with many plain words\n"
            "cookie banner accept all\nsite footer links"),
        (3, "cookie banner accept all\nsite footer links"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.5, drop_boilerplate_lines=2
    ).collect()}
    assert 1 in kept and 2 in kept
    assert 3 not in kept, "all-boilerplate doc must become a husk and drop"
    loose = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.5).collect()}
    assert 3 in loose, "without the stage the boilerplate doc survives"


def test_curate_all_stages_compose(spark):
    """Every opt-in stage at once — scrub + boilerplate-line dedup +
    repetition filter + perplexity filter + decontamination + token
    budget + staged-containment pairs: stages must compose without
    column/laziness conflicts, shrink monotonically vs the loose run,
    and stay deterministic across invocations."""
    from pyspark_dist_explore_spark.operators.textstats import term_frequencies
    from pyspark_dist_explore_spark.pipeline import containment_pair_fn

    docs = _docs(spark).limit(60)
    lm = term_frequencies(docs, "text", "doc_id").groupBy("term").agg(
        F.sum("tf").alias("cnt")
    )
    eval_set = docs.limit(3).select("text")
    kwargs = dict(
        min_quality=0.0,
        scrub=True,
        drop_boilerplate_lines=2,
        max_dup_token_frac=0.9,
        max_ppl=5000.0,
        ppl_lm_counts=lm,
        decontaminate_against=eval_set,
        decontam_ngram=13,
        token_budget=50_000,
        pair_fn=containment_pair_fn(threshold=0.8, max_df=50),
    )
    out1 = curate_documents(docs, "text", "doc_id", **kwargs)
    rows1 = sorted(map(tuple, out1.collect()))
    assert rows1, "the everything-on pipeline must keep survivors"
    assert out1.columns == ["doc_id", "lang_pred", "quality", "split"]
    ids = [r[0] for r in rows1]
    assert len(ids) == len(set(ids))
    loose = curate_documents(
        docs, "text", "doc_id", min_quality=0.0,
        pair_fn=containment_pair_fn(threshold=0.8, max_df=50),
    ).count()
    assert len(rows1) < loose, "the decontam stage alone must drop the planted overlap"
    rows2 = sorted(map(tuple,
        curate_documents(docs, "text", "doc_id", **kwargs).collect()))
    assert rows1 == rows2, "fully deterministic: same corpus -> same keep-list"


def test_curate_unicode_stage_collapses_nfd_variants(spark):
    """unicode_form='NFC': the NFD byte-variant of an NFC doc must dedup
    away inside the pipeline instead of surviving as distinct."""
    import unicodedata

    from pyspark_dist_explore_spark.pipeline import curate_documents

    nfc = "The quick brown fox jumps over the lazy café dog again."
    nfd = unicodedata.normalize("NFD", nfc)
    assert nfc != nfd
    docs = spark.createDataFrame(
        [(1, nfc), (2, nfd), (3, "A completely different document body here.")],
        "doc_id bigint, text string",
    )
    without = curate_documents(docs, "text", "doc_id", min_quality=0.0)
    assert without.count() == 3, "byte variants defeat dedup without the fold"
    with_fold = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, unicode_form="NFC"
    )
    rows = {r.doc_id for r in with_fold.collect()}
    assert rows == {1, 3}, f"NFD variant must collapse to the min-id survivor: {rows}"


def test_curate_bigram_ppl_flags_word_salad(spark):
    """ppl_model='bigram': a word-salad doc (common words, impossible
    order) is dropped while the unigram scorer at the same bound keeps
    it; param validation fails fast."""
    import pytest as _pytest

    from pyspark_dist_explore_spark.pipeline import curate_documents

    sent = "the quick brown fox jumps over the lazy dog and the dog sleeps"
    corpus = [(i, sent) for i in range(30)]
    salad_id = 999
    salad = " ".join(reversed(sent.split()))
    docs = spark.createDataFrame(corpus + [(salad_id, salad)], ["doc_id", "text"])

    # the salad is an exact permutation, so its token SET is identical —
    # disable the Jaccard pair stage or near-dup clustering removes it
    # before either perplexity filter gets a say
    def no_pairs(d):
        from pyspark.sql import functions as F
        return d.select(
            F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        ).where("1 = 0")

    uni_kept = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.0, max_ppl=12.0,
        pair_fn=no_pairs,
    ).collect()}
    bi_kept = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.0, max_ppl=12.0,
        ppl_model="bigram", pair_fn=no_pairs,
    ).collect()}
    assert salad_id in uni_kept, "unigram cannot see word order"
    assert salad_id not in bi_kept, "bigram must drop the salad doc"
    assert bi_kept, "in-distribution docs survive"
    # ppl_model='kn' (X54): the Kneser-Ney scorer sees word order too —
    # same salad drop at a bound the in-distribution docs clear
    kn_kept = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.0, max_ppl=12.0,
        ppl_model="kn", pair_fn=no_pairs,
    ).collect()}
    assert salad_id not in kn_kept, "KN must drop the salad doc"
    assert kn_kept, "in-distribution docs survive the KN gate"

    with _pytest.raises(ValueError, match="ppl_model"):
        curate_documents(docs, "text", "doc_id", max_ppl=10.0, ppl_model="trigram")
    lm = spark.createDataFrame([("the", 10)], ["term", "cnt"])
    with _pytest.raises(ValueError, match="self-trains"):
        curate_documents(docs, "text", "doc_id", max_ppl=10.0,
                         ppl_model="bigram", ppl_lm_counts=lm)
    with _pytest.raises(ValueError, match="self-trains"):
        curate_documents(docs, "text", "doc_id", max_ppl=10.0,
                         ppl_model="kn", ppl_lm_counts=lm)


def test_curate_intra_doc_line_stage(spark):
    """dedup_doc_lines=True: a doc whose body is one promo block
    repeated 20 times collapses to one copy BEFORE fingerprinting, so
    it dedups against the single-copy doc instead of surviving as
    'different' content."""
    from pyspark_dist_explore_spark.pipeline import curate_documents

    block = "subscribe now for the best deals around"
    docs = spark.createDataFrame(
        [
            (1, block),
            (2, "\n".join([block] * 20)),
            (3, "an unrelated piece of perfectly ordinary writing"),
        ],
        ["doc_id", "text"],
    )
    # disable the pair stage: the repeated page shares doc 1's token SET
    # so Jaccard clustering would catch it anyway — the pin here is that
    # the line stage makes it EXACT-dedup-able (byte-identical text)
    def no_pairs(d):
        from pyspark.sql import functions as F
        return d.select(
            F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        ).where("1 = 0")

    plain = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.0, pair_fn=no_pairs).collect()}
    assert plain == {1, 2, 3}, "without the stage the repeated page survives"
    folded = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.0, dedup_doc_lines=True,
        pair_fn=no_pairs).collect()}
    assert folded == {1, 3}, f"self-repeated page must collapse into doc 1: {folded}"


def test_curate_with_semantic_pair_fn_collapses_paraphrases(spark):
    """SemDeDup in the pipeline: two docs with DISJOINT vocabulary
    (every lexical pair_fn scores them 0) but near-identical embeddings
    collapse to one survivor; a doc with no embedding row emits no
    pairs and survives untouched."""
    import numpy as np

    from pyspark_dist_explore_spark.pipeline import curate_documents, semantic_pair_fn

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "un rapido zorro marron salta sobre el perro perezoso junto al rio"),
            (3, "completely unrelated text about spark query planning and shuffles"),
            (4, "another independent document with its own topic entirely unique"),
        ],
        "doc_id bigint, text string",
    )
    rng = np.random.default_rng(5)
    a = rng.normal(size=16)
    c = rng.normal(size=16)
    c -= (a @ c) / (a @ a) * a
    emb = spark.createDataFrame(
        [
            (1, [float(x) for x in a]),
            (2, [float(x) for x in a + 1e-3 * rng.normal(size=16)]),  # paraphrase of 1
            (3, [float(x) for x in c]),
            # doc 4 has NO embedding row
        ],
        "vec_id bigint, embedding array<double>",
    )
    kept = curate_documents(
        docs,
        "text",
        "doc_id",
        min_quality=0.0,
        pair_fn=semantic_pair_fn(emb, threshold=0.99, n_centroids=2),
    )
    ids = sorted(r.doc_id for r in kept.collect())
    # doc 2 (the embedding-paraphrase of 1) is the ONLY drop
    assert ids == [1, 3, 4], ids


def test_curate_embedding_decontamination_drops_semantic_leak(spark):
    """decontam_method='embedding': a train doc that PARAPHRASES an eval
    item (zero shared n-grams, near-identical embedding) is dropped;
    lexically-different-AND-semantically-different docs survive; a doc
    with no embedding row cannot be flagged."""
    import numpy as np

    from pyspark_dist_explore_spark.pipeline import curate_documents

    docs = spark.createDataFrame(
        [
            (1, "el gato se sienta en la alfombra cada manana temprano"),
            (2, "spark shuffles hash partitions across the cluster executors"),
            (3, "a totally unrelated third document with unique words here"),
        ],
        "doc_id bigint, text string",
    )
    rng = np.random.default_rng(13)
    e_eval = rng.normal(size=16)
    far1 = rng.normal(size=16)
    far1 -= (e_eval @ far1) / (e_eval @ e_eval) * e_eval
    corpus_emb = spark.createDataFrame(
        [
            (1, [float(x) for x in e_eval + 1e-3 * rng.normal(size=16)]),
            (2, [float(x) for x in far1]),
            # doc 3: no embedding row
        ],
        "vec_id bigint, embedding array<double>",
    )
    eval_emb = spark.createDataFrame(
        [(900, [float(x) for x in e_eval])],
        "vec_id bigint, embedding array<double>",
    )
    kept = curate_documents(
        docs,
        "text",
        "doc_id",
        min_quality=0.0,
        decontaminate_against=eval_emb,
        decontam_method="embedding",
        decontam_embeddings=corpus_emb,
        decontam_cos_threshold=0.99,
    )
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [2, 3], ids


def test_union_pair_fns_combines_lexical_and_semantic_signals(spark):
    """One doc pair is a verbatim lexical copy (no embeddings), another
    is an embedding-paraphrase (disjoint vocabulary): with the UNION of
    the exact-Jaccard and semantic generators BOTH collapse; with either
    signal alone only its own pair would."""
    import numpy as np

    from pyspark_dist_explore_spark.operators.dedup import jaccard_pairs_exact
    from pyspark_dist_explore_spark.pipeline import (
        curate_documents,
        semantic_pair_fn,
        union_pair_fns,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # lexical NEAR-dup of 1 (one token differs — survives the
            # exact-fingerprint stage, so removal must come from the pairs)
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "uno dos tres cuatro cinco seis siete ocho"),
            (4, "one two three four five six seven eight"),        # paraphrase of 3
            (5, "entirely different content that stands alone here"),
        ],
        "doc_id bigint, text string",
    )
    rng = np.random.default_rng(17)
    a = rng.normal(size=16)
    b = rng.normal(size=16)
    b -= (a @ b) / (a @ a) * a
    emb = spark.createDataFrame(
        [
            (3, [float(x) for x in a]),
            (4, [float(x) for x in a + 1e-3 * rng.normal(size=16)]),
            (5, [float(x) for x in b]),
        ],
        "vec_id bigint, embedding array<double>",
    )

    def lexical(kept):
        return jaccard_pairs_exact(kept, "__text", "doc_id", threshold=0.7)

    kept = curate_documents(
        docs,
        "text",
        "doc_id",
        min_quality=0.0,
        pair_fn=union_pair_fns(
            lexical, semantic_pair_fn(emb, threshold=0.99, n_centroids=2)
        ),
    )
    ids = sorted(r.doc_id for r in kept.collect())
    # 2 collapses into 1 (lexical), 4 into 3 (semantic), 5 survives
    assert ids == [1, 3, 5], ids


def test_curate_span_dedup_stage(spark):
    """span_dedup_k= scrubs corpus-duplicated spans before scoring: the
    doc that is ONE big duplicated quote becomes an empty husk and
    drops; the doc that merely cites the quote survives with its own
    body; without the stage the quote-only doc passes the bar."""
    quote = " ".join(f"quoted{i} passage{i % 5}" for i in range(12))
    body = " ".join(f"original{i} writing{i % 7}" for i in range(30))
    rows = [
        (1, f"{body} {quote}"),
        (2, quote),
        (3, " ".join(f"other{i} page{i % 3}" for i in range(25))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.5, span_dedup_k=8
    ).collect()}
    assert 1 in kept and 3 in kept
    assert 2 not in kept, "the all-duplicated doc must husk out"
    loose = {r.doc_id for r in curate_documents(
        docs, "text", "doc_id", min_quality=0.5).collect()}
    assert 2 in loose, "without the stage the quote-only doc survives"


def test_curate_mixture_controls(spark):
    """temperature_coeff= flattens the post-dedup language mix toward
    sqrt-counts; take_targets= caps languages exactly (missing
    languages drop); the two are mutually exclusive."""
    import pytest as _pytest

    docs = _docs(spark)
    base = curate_documents(docs, "text", "doc_id", min_quality=0.0)
    by_lang = {r["lang_pred"]: r["cnt"] for r in
               base.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("cnt")).collect()}

    temp = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, temperature_coeff=3.0
    )
    t_by_lang = {r["lang_pred"]: r["cnt"] for r in
                 temp.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for lang, n in t_by_lang.items():
        assert n <= by_lang[lang], "resampling never adds rows"
    # the dominant language is downsampled hardest: its kept FRACTION
    # must be strictly below a small language's kept fraction
    big = max(by_lang, key=by_lang.get)
    small = min(by_lang, key=by_lang.get)
    if by_lang[big] > 2 * by_lang[small]:
        assert (t_by_lang.get(big, 0) / by_lang[big]
                < t_by_lang.get(small, 0) / by_lang[small] + 1e-9)

    take = curate_documents(
        docs, "text", "doc_id", min_quality=0.0,
        take_targets={big: 5, small: 100_000},
    )
    k_by_lang = {r["lang_pred"]: r["cnt"] for r in
                 take.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert k_by_lang[big] == 5, "exact cap"
    assert k_by_lang[small] == by_lang[small], "target > n keeps all"
    assert set(k_by_lang) == {big, small}, "unlisted languages drop"

    with _pytest.raises(ValueError, match="temperature_coeff OR take_targets"):
        curate_documents(
            docs, "text", "doc_id",
            temperature_coeff=1.0, take_targets={"en": 1},
        )


def test_contaminated_ids_bloom_path_exact(spark):
    """bloom_bits= (the huge-eval scale path) returns EXACTLY the plain
    path's flag set — at a sane size, AND at a pathologically tiny
    bitmap (bits=64 → near-certain false positives) where the verify
    semi-join must weed every FP; invalid sizes propagate the builder's
    guard."""
    import pytest as _pytest

    from pyspark_dist_explore_spark.operators.decontam import contaminated_ids

    docs = _docs(spark).limit(200)
    # eval slice: every 10th doc's text → real planted overlap
    eval_df = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    plain = {r["doc_id"] for r in
             contaminated_ids(docs, eval_df, "text", "doc_id", ngram_n=13).collect()}
    assert plain, "planted overlap must flag documents"
    bloom = {r["doc_id"] for r in
             contaminated_ids(docs, eval_df, "text", "doc_id", ngram_n=13,
                              bloom_bits=1 << 16).collect()}
    assert bloom == plain, "bloom path must equal the plain path exactly"
    tiny = {r["doc_id"] for r in
            contaminated_ids(docs, eval_df, "text", "doc_id", ngram_n=13,
                             bloom_bits=64, bloom_hashes=2).collect()}
    assert tiny == plain, "false positives must be weeded by the verify join"
    with _pytest.raises(ValueError, match="bits"):
        contaminated_ids(docs, eval_df, "text", "doc_id", bloom_bits=100)

def test_curate_classifier_gate(spark):
    """classifier_threshold= adds the X29 model-based quality gate
    BEFORE dedup: every survivor passed the gate, the inline and
    weights-table forms agree exactly when the table encodes the same
    mixer over the default grid, and a sky-high threshold empties the
    corpus.  (Gated-set equality vs base∩keep does NOT hold — removing
    docs changes dedup survivor election, same as any earlier filter.)"""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators.textstats import (
        CLS_MIX,
        classifier_score,
    )

    docs = _docs(spark)
    base_n = curate_documents(docs, "text", "doc_id", min_quality=0.0).count()
    gated = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, classifier_threshold=(0, 1)
    )
    gated_ids = {r.doc_id for r in gated.collect()}
    keep = {
        r.doc_id
        for r in classifier_score(docs, "text", "doc_id").collect()
        if r.cls_keep
    }
    assert gated_ids <= keep, "every survivor must have passed the gate"
    assert 0 < len(gated_ids) < base_n, "the gate must strictly shrink survivors"

    # weights-table path through the pipeline == inline path when the
    # table encodes the identical mixer over the DEFAULT grid (the
    # pipeline runs classifier defaults: n_buckets=2^20, scale=2^16)
    B, S = 1 << 20, 1 << 16
    wtab = spark.range(B).select(
        F.col("id").alias("bucket"),
        (F.col("id") * F.lit(CLS_MIX) % F.lit(S) - F.lit(S // 2)).alias("weight"),
    )
    tabled = curate_documents(
        docs,
        "text",
        "doc_id",
        min_quality=0.0,
        classifier_threshold=(0, 1),
        classifier_weights=wtab,
    )
    assert {r.doc_id for r in tabled.collect()} == gated_ids

    assert (
        curate_documents(
            docs,
            "text",
            "doc_id",
            min_quality=0.0,
            classifier_threshold=(10**9, 1),
        ).count()
        == 0
    )


def test_curate_gopher_gate(spark):
    """gopher_rules= adds the X31 rule-based quality gate BEFORE dedup
    as a row-local predicate: every survivor passed the gate, the plan
    gains NO exchange/join for it, impossible bounds empty the corpus,
    and {} applies the published defaults."""
    from pyspark_dist_explore_spark.operators.textstats import gopher_quality_gate

    docs = _docs(spark)
    base = curate_documents(docs, "text", "doc_id", min_quality=0.0)
    base_n = base.count()
    rules = {"min_words": 3, "min_stop_words": 0}
    gated = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, gopher_rules=rules
    )
    gated_ids = {r.doc_id for r in gated.collect()}
    keep = {
        r.doc_id
        for r in gopher_quality_gate(docs, "text", "doc_id", **rules).collect()
        if r.gq_keep
    }
    assert gated_ids <= keep, "every survivor must have passed the gate"
    assert 0 < len(gated_ids) <= base_n

    # impossible bound -> empty corpus
    assert (
        curate_documents(
            docs,
            "text",
            "doc_id",
            min_quality=0.0,
            gopher_rules={"min_words": 10**6},
        ).count()
        == 0
    )

    # the gate itself adds no exchange and no python: compare exchange
    # counts of the gated vs ungated SCORING stage (pre-dedup both)
    plan_g = gated._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan_g and "ArrowEvalPython" not in plan_g


def test_curate_dsir_selection(spark):
    """dsir_target= + dsir_n_keep= keep exactly n_keep survivors, and
    they are the survivors whose vocabulary matches the target (the
    planted target-speak docs win); knob validation."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    target_speak = "spark table join scan filter shuffle sort merge batch"
    other_speak = "zebra quark nebula plasma violet anchovy umbrella xylophone"
    rows = [(i, target_speak + f" tag{i}") for i in range(1, 6)] + [
        (i, other_speak + f" tag{i}") for i in range(6, 11)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    tgt = spark.createDataFrame(
        [(100 + i, target_speak) for i in range(3)], "doc_id bigint, text string"
    )
    out = curate_documents(
        docs, "text", "doc_id",
        min_quality=0.0, dsir_target=tgt, dsir_n_keep=4,
    )
    kept = {r.doc_id for r in out.collect()}
    assert len(kept) == 4
    assert kept <= {1, 2, 3, 4, 5}, kept  # only target-speak docs survive

    with _pytest.raises(ValueError, match="go together"):
        curate_documents(docs, "text", "doc_id", dsir_target=tgt)


# --------------------------------------------------------------------------
# X38: curation funnel (per-gate drop attribution)
# --------------------------------------------------------------------------


def test_curation_funnel_matches_brute_force(spark):
    """Funnel counts == a pure-Python recount over planted flag rows:
    fail / fail-only / survivors per group, NULL group folded to ''."""
    import itertools

    from pyspark_dist_explore_spark.pipeline import curation_funnel

    rows = [
        (grp, a, b, c)
        for grp in ("x", "y", None)
        for (a, b, c) in itertools.product((0, 1), repeat=3)
        for _ in range(hash((grp, a, b, c)) % 3 + 1)
    ]
    df = spark.createDataFrame(rows, "grp string, g1 int, g2 int, g3 int")
    got = {
        r["group"]: r.asDict()
        for r in curation_funnel(df, ["g1", "g2", "g3"], group_col="grp").collect()
    }
    for grp_key in ("x", "y", ""):
        sub = [r for r in rows if (r[0] or "") == grp_key]
        want_docs = len(sub)
        assert got[grp_key]["n_docs"] == want_docs
        for i, g in enumerate(("g1", "g2", "g3"), start=1):
            fails = [r for r in sub if r[i] == 0]
            only = [r for r in fails if all(r[j] == 1 for j in (1, 2, 3) if j != i)]
            assert got[grp_key][f"{g}_fail"] == len(fails), (grp_key, g)
            assert got[grp_key][f"{g}_fail_only"] == len(only), (grp_key, g)
        assert got[grp_key]["n_survivors"] == len(
            [r for r in sub if r[1] == r[2] == r[3] == 1]
        )
    # identity: n_docs - survivors >= sum of fail_only (overlaps shrink it)
    for grp_key in got:
        dropped = got[grp_key]["n_docs"] - got[grp_key]["n_survivors"]
        only_sum = sum(got[grp_key][f"{g}_fail_only"] for g in ("g1", "g2", "g3"))
        assert dropped >= only_sum

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        curation_funnel(df, [], group_col="grp")


def test_curation_funnel_token_weighted_matches_brute_force(spark):
    """token_col= mirror == a pure-Python token recount over planted
    rows: every fail / fail-only / survivor doc count also sums its
    per-row token weight; a NULL token count weighs 0 but the doc still
    counts in every doc column (the cards describe the same rows)."""
    import itertools

    from pyspark_dist_explore_spark.pipeline import curation_funnel

    rows = []
    for grp in ("x", "y", None):
        for a, b, c in itertools.product((0, 1), repeat=3):
            for k in range(hash((grp, a, b, c)) % 3 + 1):
                # deterministic token weights incl. planted NULLs
                seed = hash((grp, a, b, c, k))
                ntok = None if seed % 5 == 0 else seed % 97 + 1
                rows.append((grp, a, b, c, ntok))
    df = spark.createDataFrame(
        rows, "grp string, g1 int, g2 int, g3 int, ntok bigint"
    )
    got = {
        r["group"]: r.asDict()
        for r in curation_funnel(
            df, ["g1", "g2", "g3"], group_col="grp", token_col="ntok"
        ).collect()
    }

    def w(rs):  # NULL weighs 0 (the documented coalesce semantics)
        return sum(r[4] or 0 for r in rs)

    for grp_key in ("x", "y", ""):
        sub = [r for r in rows if (r[0] or "") == grp_key]
        assert got[grp_key]["n_docs"] == len(sub)
        assert got[grp_key]["n_tokens"] == w(sub)
        for i, g in enumerate(("g1", "g2", "g3"), start=1):
            fails = [r for r in sub if r[i] == 0]
            only = [r for r in fails if all(r[j] == 1 for j in (1, 2, 3) if j != i)]
            assert got[grp_key][f"{g}_fail"] == len(fails), (grp_key, g)
            assert got[grp_key][f"{g}_fail_tokens"] == w(fails), (grp_key, g)
            assert got[grp_key][f"{g}_fail_only_tokens"] == w(only), (grp_key, g)
        survivors = [r for r in sub if r[1] == r[2] == r[3] == 1]
        assert got[grp_key]["n_survivors"] == len(survivors)
        assert got[grp_key]["survivor_tokens"] == w(survivors)
        # cards agree: a doc with NULL tokens is in n_docs and weighs 0,
        # so survivor_tokens + sum of single-gate token losses can never
        # exceed the group total
        assert got[grp_key]["survivor_tokens"] <= got[grp_key]["n_tokens"]


def test_curation_funnel_token_weighted_single_aggregate_plan(spark):
    """token_col= stays ONE hash aggregate — the weighted mirror rides
    the same row-local arithmetic, no second scan/exchange/join."""
    from pyspark_dist_explore_spark.pipeline import curation_funnel

    df = spark.createDataFrame(
        [("a", 1, 0, 10), ("b", 0, 1, None)],
        "grp string, g1 int, g2 int, ntok bigint",
    )
    plan = (
        curation_funnel(df, ["g1", "g2"], group_col="grp", token_col="ntok")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_funnel_single_aggregate_plan(spark):
    """ONE hash aggregate (map-side partials -> group-sized shuffle),
    no Python, no join in the funnel itself."""
    from pyspark_dist_explore_spark.pipeline import curation_funnel

    df = spark.createDataFrame(
        [("a", 1, 0), ("b", 0, 1)], "grp string, g1 int, g2 int"
    )
    plan = (
        curation_funnel(df, ["g1", "g2"], group_col="grp")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_curate_c4_rules_rewrite_and_collapse(spark):
    """c4_rules= runs the published C4 semantics inside the pipeline:
    junk lines are REMOVED (retained lines replace the page text), so
    two pages differing only in junk lines become exact duplicates and
    collapse in the dedup stage; brace/lorem pages drop entirely."""
    from pyspark_dist_explore_spark.pipeline import curate_documents

    clean = "\n".join(
        [
            "The quick brown fox jumps over the lazy dog today.",
            "Here is another perfectly good sentence for you!",
            "Is this a question about the corpus?",
            "She said the answer was definitely yes.",
            "And one more full sentence to close the page.",
        ]
    )
    rows = [
        (1, clean),
        (2, clean + "\nnav menu"),                 # junk line only -> dup of 1
        (3, clean + "\nfunction f() { return; }"), # brace -> page dropped
        (4, "Too short."),                         # <5 sentences -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = curate_documents(
        df,
        min_quality=0.0,
        c4_rules={},
        split_fractions={"train": 1.0},
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    # 3 and 4 dropped by the page rules; 1 and 2 became identical after
    # the line filter, so exact dedup keeps only the min id
    assert kept == [1]

    # without c4_rules the page rules don't fire: 3 and 4 survive (2
    # still collapses into 1 — the default near-dup stage catches the
    # one-junk-line twin even though exact dedup can't)
    base = curate_documents(df, min_quality=0.0, split_fractions={"train": 1.0})
    assert sorted(r["doc_id"] for r in base.collect()) == [1, 3, 4]


def test_curate_host_cap_gate(spark):
    """host_cap=(key, n) caps per-host membership BEFORE any content
    stage: survivors are exactly curate(cap_per_key(docs)) — the cap
    composes, and no host exceeds n among the ADMITTED set."""
    from pyspark_dist_explore_spark.operators.sampling import cap_per_key

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source")
    )
    capped_first = curate_documents(
        cap_per_key(docs, "source", "doc_id", 2),
        min_quality=0.0,
        split_fractions={"train": 1.0},
    )
    wired = curate_documents(
        docs,
        min_quality=0.0,
        split_fractions={"train": 1.0},
        host_cap=("source", 2),
    )
    got = sorted(r["doc_id"] for r in wired.collect())
    assert got == sorted(r["doc_id"] for r in capped_first.collect())
    # the admitted set respects the cap per host
    kept = docs.join(wired.select("doc_id"), "doc_id")
    assert kept.groupBy("source").count().where("count > 2").count() == 0
    # and without the cap, more docs survive (the gate did real work)
    base = curate_documents(docs, min_quality=0.0, split_fractions={"train": 1.0})
    assert base.count() > wired.count()


def test_curate_mixture_epochs_gate(spark):
    """mixture_epochs={lang: target} materializes the SURVIVING corpus
    into the multi-epoch stream as the LAST stage: full epochs carry
    every survivor of the language, the highest epoch is a strict
    md5-prefix partial, unlisted languages drop, and a doc's epochs all
    land in one split (hash_split keys on doc_id)."""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators.dedup import normalize_text

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    base = curate_documents(docs, min_quality=0.0)
    assert "epoch" not in base.columns
    langs = [r["lang_pred"] for r in base.select("lang_pred").distinct().collect()]
    lang = sorted(langs)[0]
    survivors = {r["doc_id"] for r in base.where(F.col("lang_pred") == lang).collect()}
    assert survivors
    norm = normalize_text(F.col("text"))
    n_tok = F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " ")))
    total = (
        docs.where(F.col("doc_id").isin(list(survivors)))
        .agg(F.sum(n_tok).alias("t"))
        .collect()[0]["t"]
    )
    target = 2 * total + total // 3
    out = curate_documents(docs, min_quality=0.0, mixture_epochs={lang: target})
    rows = out.collect()
    assert set(out.columns) == {"doc_id", "lang_pred", "quality", "split", "epoch"}
    assert {r["lang_pred"] for r in rows} == {lang}  # unlisted langs drop
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], set()).add(r["doc_id"])
    assert set(by_epoch) == {1, 2, 3}
    assert by_epoch[1] == survivors and by_epoch[2] == survivors
    assert set() < by_epoch[3] < survivors  # strict partial prefix
    # every epoch of a doc rides the same split
    splits = {}
    for r in rows:
        splits.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in splits.values())


def test_curate_quality_top_frac_gate(spark):
    """quality_top_frac=(num, den) keeps the per-language top fraction
    of the SCORED frame (before dedup): survivors equal
    curate(top_frac_per_group(scored docs)) — the gate composes — and
    the admitted set is exactly ceil(n/den·num) per language with kept
    qualities dominating dropped ones."""
    import math

    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators.sampling import top_frac_per_group
    from pyspark_dist_explore_spark.operators.textstats import (
        lang_pred_expr,
        quality_ratio_exprs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    t = F.coalesce(F.col("text"), F.lit(""))
    _, _, quality = quality_ratio_exprs(t)
    scored = docs.select(
        "doc_id", quality.alias("quality"), lang_pred_expr(t).alias("lang_pred")
    )
    admitted = top_frac_per_group(scored, "lang_pred", "quality", (1, 3), "doc_id")
    adm_rows = admitted.collect()
    sc_rows = scored.collect()
    by_lang = {}
    for r in sc_rows:
        by_lang.setdefault(r["lang_pred"], []).append((r["quality"], r["doc_id"]))
    adm_counts = {}
    for r in adm_rows:
        adm_counts[r["lang_pred"]] = adm_counts.get(r["lang_pred"], 0) + 1
    assert adm_counts == {g: math.ceil(len(v) / 3) for g, v in by_lang.items()}
    adm_ids = {r["doc_id"] for r in adm_rows}
    for g, v in by_lang.items():
        qs = sorted((q for q, _ in v), reverse=True)
        floor_q = qs[adm_counts[g] - 1]
        for q, d in v:
            assert (q >= floor_q) if d in adm_ids else (q <= floor_q)
    # composition: the wired gate equals pre-filtering docs to the
    # admitted set and running the rest of the pipeline
    wired = curate_documents(docs, min_quality=0.0, quality_top_frac=(1, 3))
    manual = curate_documents(
        docs.join(admitted.select("doc_id"), "doc_id"), min_quality=0.0
    )
    assert sorted(map(tuple, wired.collect())) == sorted(
        map(tuple, manual.collect())
    )
    # and the gate did real work vs the unrestricted run
    assert wired.count() < curate_documents(docs, min_quality=0.0).count()


def test_curate_strip_markup_stage(spark):
    """strip_markup=True: a markup-wrapped corpus curates to the SAME
    keep-list as its clean counterpart (tags/entities never reach the
    gates or fingerprints); without the stage, the wrapped corpus
    scores differently."""
    from pyspark_dist_explore_spark.pipeline import curate_documents

    clean = [
        (i, "the quick brown fox jumps over the lazy dog near the "
            f"river bank number {i} with many fine common words")
        for i in range(30)
    ]
    wrapped = [
        (i, f'<html><script>x<y</script><body class="m">{t}'
            f"</body>&nbsp;</html>")
        for i, t in clean
    ]
    cdf = spark.createDataFrame(clean, "doc_id bigint, text string")
    wdf = spark.createDataFrame(wrapped, "doc_id bigint, text string")
    kw = dict(min_quality=0.0, allowed_langs=None)
    base = {r["doc_id"] for r in curate_documents(cdf, **kw).collect()}
    stripped = {
        r["doc_id"]
        for r in curate_documents(wdf, strip_markup=True, **kw).collect()
    }
    assert stripped == base and len(base) > 0

def test_curate_prototype_prune_stage(spark):
    """prototype_keep_frac= runs D4 diversification AFTER dedup: with
    two planted embedding domains (center + shell points each), keeping
    half per domain drops the points nearest the centers; survivors
    WITHOUT an embedding pass through untouched; the param pair is
    validated."""
    import pytest

    from pyspark_dist_explore_spark.pipeline import curate_documents

    texts = {
        i: f"distinct document number {i} with its own particular words "
           f"entirely unlike any other entry {i}"
        for i in range(9)
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    # domain A: 0 sits ON the cluster-mean direction (+x), 1 and 2 are
    # the symmetric shell; domain B mirrors around +y; 6-8 no embedding
    c, t = 0.766, 0.643  # cos/sin 40 degrees
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [c, t]), (2, [c, -t]),
            (3, [0.0, 1.0]), (4, [t, c]), (5, [-t, c]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id bigint, cv array<double>"
    )
    kept = {
        r["doc_id"]
        for r in curate_documents(
            docs,
            min_quality=0.0,
            prototype_keep_frac=(2, 3),
            prototype_embeddings=emb,
            prototype_centroids=cents,
        ).collect()
    }
    # ceil(2·3/3)=2 kept per domain: the two shell points survive, the
    # point on the centroid direction (MOST prototypical) drops
    assert 0 not in kept and 3 not in kept
    assert {1, 2, 4, 5} <= kept
    # un-embedded docs pass through
    assert {6, 7, 8} <= kept

    with pytest.raises(ValueError, match="go together"):
        curate_documents(docs, min_quality=0.0, prototype_keep_frac=(1, 2))



def test_curate_edit_verified_pair_fn(spark):
    """X55 in the pipeline: wrapping a set-based pair_fn with
    edit_verified_pair_fn keeps character-level near-copies collapsing
    while RELEASING token-permuted pairs the set signal wrongly links —
    planted: a typo pair (tiny edit distance) collapses with and without
    the gate; a permutation pair (same token set, huge edit distance)
    collapses only WITHOUT the gate."""
    from pyspark_dist_explore_spark.pipeline import (
        curate_documents,
        edit_verified_pair_fn,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("kappa", "kappo")),            # typo near-copy
            (3, " ".join(reversed(base.split()))),          # permutation
            (4, "completely unrelated content about engines and parquet"),
        ],
        ["doc_id", "text"],
    )

    def jac_pairs(kept):
        from pyspark_dist_explore_spark.operators import dedup

        return dedup.jaccard_pairs_exact(kept, "__text", "doc_id", threshold=0.8)

    plain = curate_documents(
        docs, "text", "doc_id", min_quality=0.0, pair_fn=jac_pairs
    )
    kept_plain = {r.doc_id for r in plain.collect()}
    # jaccard links 1-2 (0.9) and 1-3/2-3 (permutation, jaccard 1.0):
    # one survivor for {1,2,3}
    assert kept_plain == {1, 4}
    gated = curate_documents(
        docs,
        "text",
        "doc_id",
        min_quality=0.0,
        pair_fn=edit_verified_pair_fn(jac_pairs, max_dist=5),
    )
    kept_gated = {r.doc_id for r in gated.collect()}
    # the edit gate releases the permutation: 3 survives; 2 still folds
    assert kept_gated == {1, 3, 4}
