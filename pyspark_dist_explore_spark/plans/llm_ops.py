"""LLM-data-pipeline query registrations (SURVEY.md §2.2, M4): dedup,
similarity search, text analysis, multimodal plumbing.

Oracle SQL is generated from the SAME marker lists / thresholds /
normalization strings as the Spark operators, so both sides cannot
drift.  Approximate/hash-seeded operators (MinHash LSH, SimHash,
random-hyperplane ANN) have no DuckDB equivalent of xxhash64 → rows-only
checks, but each has an exact oracle-checked counterpart registered
beside it (fingerprint / jaccard / brute-force top-k).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.hashing import (
    hex_int,
    hex_int_sql,
    salted_md5_sql,
)
from pyspark_dist_explore_spark.operators import (
    decontam,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from pyspark_dist_explore_spark.operators.sampling import (
    select_by_token_budget_stratified_sql,
    sql_str_lit,
    weighted_reservoir_sample_sql,
)
from pyspark_dist_explore_spark.plans.queries import register, register_sections
from pyspark_dist_explore_spark.sources.tables import embedding_dim, load_table

# Unit-normalize then dot — the SAME arithmetic shape as the Spark side
# (similarity._unit + dot of unit vectors), so hash parity does not rely
# on round(...,6) absorbing a different operation order.  Zero-norm
# vectors normalize to all-zeros (cosine 0 vs everything), mirroring the
# Spark guard and avoiding DuckDB's divide-by-zero.  Defined up here:
# both the decontamination and similarity oracle builders render it.
_UNIT = (
    "CASE WHEN sqrt(list_dot_product({v}, {v})) > 0 "
    "THEN list_transform({v}, x -> x / sqrt(list_dot_product({v}, {v}))) "
    "ELSE list_transform({v}, x -> 0.0) END"
)


# -- shared oracle fragments (one rendering, reused by the standalone
# -- queries AND the composed pipeline_curate oracle, so they can't drift)

def _alpha_ratio_sql(c: str) -> str:
    return (
        f"(CAST(len(regexp_replace({c}, '[^a-zA-Z]', '', 'g')) AS DOUBLE)"
        f" / greatest(CAST(len({c}) AS DOUBLE), 1.0))"
    )


def _punct_ratio_sql(c: str) -> str:
    return (
        f"(CAST(len(regexp_replace({c}, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)"
        f" / greatest(CAST(len({c}) AS DOUBLE), 1.0))"
    )


def _quality_sql(c: str) -> str:
    """Mirrors textstats.quality_ratio_exprs' score term-for-term."""
    len_score = f"(CASE WHEN len({c}) >= 20 AND len({c}) <= 10000 THEN 1.0 ELSE 0.5 END)"
    return (
        f"round(0.5 * {_alpha_ratio_sql(c)} + 0.3 * (1.0 - {_punct_ratio_sql(c)})"
        f" + 0.2 * {len_score}, 6)"
    )


def _lang_score_sql() -> dict[str, str]:
    """Per-language marker-count expressions over a column named ``p``
    (the space-padded normalized text) — the same ``re.escape``-d
    patterns the Spark side feeds ``regexp_count``; both engines count
    leftmost non-overlapping matches."""
    return {
        lang: " + ".join(
            f"CAST(len(regexp_extract_all(p, {sql_str_lit(re.escape(m))})) AS BIGINT)"
            for m in textstats.LANG_MARKERS[lang]
        )
        for lang in sorted(textstats.LANG_MARKERS)
    }


def _lang_pred_case_sql() -> str:
    """CASE over ``score_<lang>`` columns → predicted code ('und' when no
    marker hits; ties to the alphabetically-first language)."""
    langs = sorted(textstats.LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"score_{lang} >= score_{o}" for o in langs[i + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    total = " + ".join(f"score_{lang}" for lang in langs)
    return (
        f"CASE WHEN {total} = 0 THEN 'und' " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    )


# --------------------------------------------------------------------------
# X1: exact dedup (deterministic survivor) — on lineitem, which has real
# multi-row keys (one order → up to 7 lines).
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
QUALIFY row_number() OVER (
  PARTITION BY l_orderkey
  ORDER BY l_linenumber ASC NULLS FIRST, l_partkey ASC NULLS FIRST,
           l_suppkey ASC NULLS FIRST, l_quantity ASC NULLS FIRST,
           l_extendedprice ASC NULLS FIRST) = 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: one row per l_orderkey, deterministic survivor.

    (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    the tie-break covers enough columns for a total order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return dedup.exact_dedup(
        li,
        ["l_orderkey"],
        ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"],
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


#: re-keyed "re-crawl" offset for the incremental-dedup demo: copies of
#: every doc_id % 10 == 3 document re-enter the new batch under a fresh
#: id, so the anti-join (copies of SEEN docs) and the within-batch
#: survivor (copies of NEW docs) both do real work
_RECRAWL_OFFSET = 1_000_000

_INCR_FP = f"md5({dedup.NORMALIZE_SQL.format(c='text')})"


#: the X36 overlap-census stats that unpivot into the ``'overlap'``
#: section of ``dedup_incremental`` — all exact BIGINTs (ORACLES.md
#: class A).  ``fp_jaccard`` is deliberately NOT hashed: it is exactly
#: ``n_fp_common / (n_fp_a + n_fp_b - n_fp_common)``, derivable from
#: three hashed integers; the full 8-column ``corpus_overlap`` row
#: (jaccard included) stays pytest-pinned against its DuckDB twin.
_OVERLAP_STATS = (
    "n_a", "n_b", "n_fp_a", "n_fp_b", "n_fp_common",
    "a_docs_in_b", "b_docs_in_a",
)

_INCR_BATCH_SRC = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + {_RECRAWL_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 10 = 3
"""
_INCR_SNAP_SRC = "SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0"

#: X43 matrix-section adapter: the synthetic corpus has ZERO raw
#: cross-source duplicate content (measured at sf0.01), which would
#: make the pair-overlap stats vacuously zero — so the gate mixes in a
#: deterministic MIRROR slice (every doc_id % 5 == 0 document re-keyed
#: into the rotated source ``'src' || (doc_id + 7) % 20``), planting
#: real cross-source commons that both engines derive identically
_MATRIX_MIX_SRC = f"""
  SELECT doc_id, CAST(source AS VARCHAR) AS source, text FROM documents
  UNION ALL
  SELECT doc_id + {_RECRAWL_OFFSET} AS doc_id,
         'src' || CAST((doc_id + 7) % 20 AS VARCHAR) AS source, text
  FROM documents WHERE doc_id % 5 = 0
"""

#: the X43 per-pair stats that unpivot into the ``'overlap_matrix'``
#: section — all exact BIGINTs (class A); pair Jaccards derivable
_MATRIX_STATS = (
    "n_a", "n_b", "n_fp_a", "n_fp_b", "n_fp_common",
    "a_docs_in_b", "b_docs_in_a",
)

#: X49 snapshot-diff adapter: the "new crawl" of the SAME corpus —
#: doc_id % 11 == 0 docs removed, doc_id % 13 == 0 docs re-crawled with
#: changed content (a deterministic suffix), doc_id % 9 == 4 docs added
#: under re-keyed ids — so all four diff classes are non-vacuous and
#: both engines derive the mutation identically
_DIFF_NEW_SRC = f"""
  SELECT doc_id, CAST(source AS VARCHAR) AS source,
         CASE WHEN doc_id % 13 = 0 THEN text || ' zz' ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + {_RECRAWL_OFFSET} AS doc_id,
         CAST(source AS VARCHAR) AS source, text
  FROM documents WHERE doc_id % 9 = 4
"""
_DIFF_OLD_SRC = "SELECT doc_id, CAST(source AS VARCHAR) AS source, text FROM documents"

#: every X49 column is an exact BIGINT (tokens_changed_delta signed)
_DIFF_STATS = (
    "n_added", "n_removed", "n_changed", "n_unchanged",
    "tokens_added", "tokens_removed", "tokens_changed_delta",
    "n_old", "n_new", "tokens_old", "tokens_new",
)

_DIFF_UNPIVOT = " UNION ALL ".join(
    f"SELECT grp, '{s}' AS stat, {s} AS val FROM sdiff" for s in _DIFF_STATS
)


@register_sections(
    "dedup_incremental",
    f"""
WITH batch AS ({_INCR_BATCH_SRC}),
seen AS (
  SELECT DISTINCT {_INCR_FP} AS fingerprint FROM documents WHERE doc_id % 7 = 0
),
dedup AS (
  SELECT {_INCR_FP} AS fingerprint, min(doc_id) AS survivor_id,
         count(*) AS n_dups
  FROM batch GROUP BY 1
),
census AS ({dedup.corpus_overlap_sql("SELECT doc_id, text FROM batch", _INCR_SNAP_SRC)}),
matrix AS ({dedup.corpus_overlap_matrix_sql(_MATRIX_MIX_SRC, "source")}),
sdiff AS (SELECT "group" AS grp, * EXCLUDE ("group")
          FROM ({dedup.corpus_diff_sql(_DIFF_OLD_SRC, _DIFF_NEW_SRC, group_col="source")}) sd)
SELECT 'batch' AS section, d.fingerprint, d.survivor_id, d.n_dups
FROM dedup d ANTI JOIN seen s ON d.fingerprint = s.fingerprint
UNION ALL
SELECT 'overlap' AS section, stat AS fingerprint,
       CAST(0 AS BIGINT) AS survivor_id, val AS n_dups
FROM (
  {" UNION ALL ".join(f"SELECT '{s}' AS stat, {s} AS val FROM census" for s in _OVERLAP_STATS)}
)
UNION ALL
SELECT 'overlap_matrix' AS section,
       concat(src_a, '>', src_b, ':', stat) AS fingerprint,
       CAST(0 AS BIGINT) AS survivor_id, val AS n_dups
FROM (
  {" UNION ALL ".join(f"SELECT src_a, src_b, '{s}' AS stat, {s} AS val FROM matrix" for s in _MATRIX_STATS)}
)
UNION ALL
SELECT 'snapshot_diff' AS section,
       concat(grp, ':', stat) AS fingerprint,
       CAST(0 AS BIGINT) AS survivor_id, val AS n_dups
FROM (
  {_DIFF_UNPIVOT}
)
""",
)
def dedup_incremental_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Incremental dedup and three corpus audits, one section each, all
    in the ``(section, fingerprint, survivor_id, n_dups)`` schema.

    - ``batch``: a new crawl batch (the doc_id % 7 != 0 slice plus
      re-keyed re-crawl copies of every % 10 == 3 doc) deduped against
      the fingerprint snapshot of the shipped corpus (the % 7 == 0
      slice) by :func:`dedup.incremental_dedup` with a 4096-bit Bloom
      prefilter.  Within-batch duplicates collapse to the min-id
      survivor and already-seen content is dropped; the rows equal the
      plain anti-join.  The flagged batch is staged (lazy
      ``localCheckpoint``) because three branches read it.
    - ``overlap``: :func:`dedup.corpus_overlap` of the batch vs the
      snapshot, unpivoted to ``(stat, value)`` rows of exact BIGINTs
      (``fingerprint`` = stat name, ``survivor_id`` = 0, ``n_dups`` =
      value).
    - ``overlap_matrix``: :func:`dedup.corpus_overlap_matrix` over
      every source pair of ``_MATRIX_MIX_SRC`` (documents plus a mirror
      slice that plants cross-source duplicates), keyed
      ``src_a>src_b:stat``.
    - ``snapshot_diff``: :func:`dedup.corpus_diff` between the corpus
      and the ``_DIFF_NEW_SRC`` mutation (removals, content changes,
      re-keyed additions), keyed ``source:stat``.
    """
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 7 != 0).select("doc_id", "text").unionAll(
        docs.where(F.col("doc_id") % 10 == 3).select(
            (F.col("doc_id") + _RECRAWL_OFFSET).alias("doc_id"), "text"
        )
    )
    snap = docs.where(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    seen = snap.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("fingerprint")
    ).distinct()
    incr = dedup.incremental_dedup(
        batch, seen, "text", "doc_id", bloom_bits=4096, bloom_hashes=5
    ).select(F.lit("batch").alias("section"), "fingerprint", "survivor_id", "n_dups")
    census = dedup.corpus_overlap(batch, snap, "text", "doc_id")
    stack = "stack({n}, {pairs}) as (fingerprint, n_dups)".format(
        n=len(_OVERLAP_STATS),
        pairs=", ".join(f"'{s}', {s}" for s in _OVERLAP_STATS),
    )
    overlap = census.selectExpr(stack).select(
        F.lit("overlap").alias("section"),
        "fingerprint",
        F.lit(0).cast("bigint").alias("survivor_id"),
        F.col("n_dups").cast("bigint").alias("n_dups"),
    )
    mirror = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _RECRAWL_OFFSET).alias("doc_id"),
        F.concat(
            F.lit("src"), ((F.col("doc_id") + 7) % 20).cast("string")
        ).alias("source"),
        "text",
    )
    mixed = docs.select(
        "doc_id", F.col("source").cast("string").alias("source"), "text"
    ).unionAll(mirror)
    mat = dedup.corpus_overlap_matrix(mixed, "source", "text", "doc_id")
    mat_stack = "stack({n}, {pairs}) as (stat, val)".format(
        n=len(_MATRIX_STATS),
        pairs=", ".join(f"'{s}', {s}" for s in _MATRIX_STATS),
    )
    matrix = mat.selectExpr("src_a", "src_b", mat_stack).select(
        F.lit("overlap_matrix").alias("section"),
        F.concat(
            F.col("src_a"), F.lit(">"), F.col("src_b"), F.lit(":"), F.col("stat")
        ).alias("fingerprint"),
        F.lit(0).cast("bigint").alias("survivor_id"),
        F.col("val").cast("bigint").alias("n_dups"),
    )
    old_snap = docs.select(
        "doc_id", F.col("source").cast("string").alias("source"), "text"
    )
    new_snap = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.col("source").cast("string").alias("source"),
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" zz"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionAll(
        docs.where(F.col("doc_id") % 9 == 4).select(
            (F.col("doc_id") + _RECRAWL_OFFSET).alias("doc_id"),
            F.col("source").cast("string").alias("source"),
            "text",
        )
    )
    sd = dedup.corpus_diff(old_snap, new_snap, group_col="source")
    sd_stack = "stack({n}, {pairs}) as (stat, val)".format(
        n=len(_DIFF_STATS),
        pairs=", ".join(f"'{s}', {s}" for s in _DIFF_STATS),
    )
    sdiff = sd.selectExpr("group", sd_stack).select(
        F.lit("snapshot_diff").alias("section"),
        F.concat(F.col("group"), F.lit(":"), F.col("stat")).alias("fingerprint"),
        F.lit(0).cast("bigint").alias("survivor_id"),
        F.col("val").cast("bigint").alias("n_dups"),
    )
    return {
        "batch": incr,
        "overlap": overlap,
        "overlap_matrix": matrix,
        "snapshot_diff": sdiff,
    }


# --------------------------------------------------------------------------
# X3: near-dup — exact Jaccard ground truth (oracle) + MinHash LSH and
# SimHash approximations (rows-only).
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.9
_JACCARD_MAX_ID = 100


#: X55 edit-distance verification knobs for the registered section: the
#: jaccard pairs are token-SET near-dups of ORDER-SCRAMBLED word soup,
#: so their prefix-256 Levenshtein distances spread ~165–200 (measured
#: at sf0.01) — a 185 bound keeps roughly half, making the section
#: SET-sensitive in both directions (drops and keeps)
_EDITDIST_MAX = 185
_EDITDIST_PREFIX = 256


#: the doc_id < ``_JACCARD_MAX_ID`` slice the exact-Jaccard slots read
_JACCARD_SRC = f"SELECT doc_id, text FROM documents WHERE doc_id < {_JACCARD_MAX_ID}"


@register(
    "neardup_jaccard_exact",
    f"""
WITH jpairs AS ({dedup.jaccard_pairs_exact_sql(_JACCARD_SRC, _JACCARD_THRESHOLD)})
SELECT 'jaccard' AS section, doc_a, doc_b, jaccard FROM jpairs
UNION ALL
SELECT 'editdist' AS section, doc_a, doc_b, CAST(edit_dist AS DOUBLE) AS jaccard
FROM ({dedup.edit_distance_pairs_sql(
        "SELECT * FROM documents",
        "SELECT doc_a, doc_b FROM jpairs",
        "text",
        "doc_id",
        max_dist=_EDITDIST_MAX,
        prefix_len=_EDITDIST_PREFIX,
    )})
""",
)
def q_neardup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ 0.9 (ground truth for near-dup)
    as ``section='jaccard'`` rows, plus the X55 EDIT-DISTANCE
    VERIFICATION as ``section='editdist'`` rows
    (:func:`~pyspark_dist_explore_spark.operators.dedup.edit_distance_pairs`):
    the same candidate pairs
    confirmed by exact Levenshtein over the 256-char normalized prefix
    with the banded-DP bound — the ``jaccard`` column carries the
    integer distance for surviving pairs.  Class-A here because the
    corpus is ASCII-pure (see the operator's engine caveat)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _JACCARD_MAX_ID)
    jp = dedup.jaccard_pairs_exact(docs, "text", "doc_id", threshold=_JACCARD_THRESHOLD)
    ed = dedup.edit_distance_pairs(
        docs, jp, "text", "doc_id", max_dist=_EDITDIST_MAX, prefix_len=_EDITDIST_PREFIX
    )
    return jp.select(F.lit("jaccard").alias("section"), "doc_a", "doc_b", "jaccard").unionByName(
        ed.select(
            F.lit("editdist").alias("section"),
            "doc_a",
            "doc_b",
            F.col("edit_dist").cast("double").alias("jaccard"),
        )
    )


def _minhash_oracle(
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    incremental_mod: int | None = None,
) -> str:
    """DuckDB twin of minhash_neardup(hash_fn='md5'), stage for stage:
    the shingle build (:func:`dedup._gram_rows_sql` over
    :func:`dedup._token_rows_sql`, DISTINCT), Kirsch–Mitzenmacher
    double hashing (h_i = h1 + i·h2 from one md5 digest — values < 2^54, overflow-free in both engines),
    ``num_hashes`` MIN aggregates, raw-string band keys, the band-bucket
    self-join, and the exact shingle-Jaccard verify
    (:func:`dedup._jaccard_at_least_sql`).

    ``incremental_mod=m`` (X27) appends the
    ``'incremental'`` section: the snapshot slice (doc_id % m ≠ 0) is
    probed by the batch slice (doc_id % m = 0) through shared bands,
    verified by the SIGNATURE-estimated Jaccard (the fraction of
    agreeing MinHash components — what :func:`dedup.
    incremental_minhash_neardup` computes when the snapshot's shingles
    are gone and only its landed artifacts remain).  ``agree/k`` is an
    exact dyadic rational (k a power of two), so the section is
    knife-edge-free by construction."""
    rows_per_band = num_hashes // bands
    toks = dedup._token_rows_sql("SELECT doc_id, text FROM documents")
    mins = ", ".join(f"min(h1 + {i} * h2) AS h{i}" for i in range(num_hashes))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS band_hash FROM sig".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    jac = dedup._jaccard_at_least_sql(
        "SELECT doc_a, doc_b, n_inter FROM inter", "SELECT doc_id FROM sh", threshold
    )
    section_full = ""
    inc_union = ""
    if incremental_mod is not None:
        m = incremental_mod
        agree = " + ".join(
            f"CASE WHEN sgb.h{i} = sgs.h{i} THEN 1 ELSE 0 END"
            for i in range(num_hashes)
        )
        section_full = "'full' AS section, "
        inc_union = f"""
UNION ALL
SELECT 'incremental' AS section, c.batch_id AS doc_a, c.snap_id AS doc_b,
       CAST(({agree}) AS DOUBLE) / {num_hashes} AS jaccard
FROM (
  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS snap_id
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id % {m} <> 0 AND b.doc_id % {m} = 0
) c
JOIN sig sgb ON sgb.doc_id = c.batch_id
JOIN sig sgs ON sgs.doc_id = c.snap_id
WHERE CAST(({agree}) AS DOUBLE) / {num_hashes} >= {threshold}"""
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, gram AS sh FROM ({dedup._gram_rows_sql(toks, shingle_n)}) g
),
hashed AS (
  SELECT doc_id,
         {hex_int_sql("md5(sh)", 1, 12)} AS h1,
         {hex_int_sql("md5(sh)", 13, 12)} AS h2
  FROM sh
),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bandrows AS ({band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT {section_full}doc_a, doc_b, jaccard FROM ({jac}) jp
{inc_union}
"""


@register("neardup_minhash_lsh", _minhash_oracle(0.8, 32, 8, 3, incremental_mod=5))
def q_neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup over the WHOLE corpus, no id cap: 3-gram
    shingles → 32 hashes → 8 bands → bucket join → exact shingle-Jaccard
    verify ≥ 0.8.

    shingle_n=3 is the semantic point of MinHash-over-shingles: 3-gram
    overlap detects shared *passages* (word order matters), not shared
    vocabulary — at token granularity (shingle_n=1) this word-salad
    corpus is all-pairs-similar and the output goes quadratic (the old
    capped demo).  At 3 grams only genuinely near-identical docs clear
    0.8, so the verified pair list is linear-ish and the cap is gone.

    Registered with ``hash_fn="md5"``: double hashing over one
    md5 digest is reproducible in DuckDB, so the ENTIRE LSH pipeline —
    shingling, signature mins, banding, bucket join, Jaccard verify —
    is hash-oracle-checked.  xxhash64 stays the library default (k
    independent native hashes + 8-byte compacted band keys).

    The ``'incremental'`` section (X27) runs the REAL
    :func:`dedup.incremental_minhash_neardup` probe — snapshot slice
    (doc_id % 5 ≠ 0) supplies the band + signature artifacts, the batch
    slice (doc_id % 5 = 0) broadcasts against them, and each candidate
    pair is verified by the signature-estimated Jaccard (agree/32, an
    exact dyadic rational → knife-edge-free).  At the gate the
    artifacts are built in-query from the same scheme; production
    loads them from parquet via :func:`sources.sinks.
    load_neardup_snapshot` (round-trip + incremental==from-scratch
    equality pinned in pytest).
    """
    docs = load_table(spark, sf_dir, "documents")
    # (A staged-shingle form — ONE localCheckpoint'd shingle frame fed
    # to all four minhash consumers — was A/B-measured a WASH at sf0.1
    # local[32]: staged 5.75/6.04 s vs lazy 5.64/6.19 s warm.  The
    # bucket join + Jaccard verify dominate this query, not the text
    # scans, and the checkpoint write costs what the re-scans cost.
    # Keep the lazy form; `shingle_rows=` stays available on every
    # builder for deployments whose corpus scan IS the bottleneck.)
    # Stage the SIGNATURE table (not the shingles — that A/B was a
    # wash, see above): the banding self-join otherwise runs the
    # shingle+32-min aggregate on BOTH sides; with ``signatures=`` the
    # band rows derive row-locally from one checkpointed ~N×32 frame
    # and the heavy aggregate runs once.  The Jaccard verify reads the
    # (lazy) shingle rows.
    full_sigs = dedup.minhash_signatures(
        docs, "text", "doc_id", num_hashes=32, shingle_n=3, hash_fn="md5"
    ).localCheckpoint(eager=False)
    full = dedup.minhash_neardup(
        docs, "text", "doc_id", threshold=0.8, num_hashes=32, bands=8, shingle_n=3,
        hash_fn="md5", signatures=full_sigs,
    ).select(F.lit("full").alias("section"), "doc_a", "doc_b", "jaccard")
    snap = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    # MinHash signatures are per-document ROW-LOCAL (shingle within doc,
    # min over hashes), so the snapshot and batch signature tables are
    # exactly filters of the staged full-corpus frame — deriving both
    # from full_sigs, not from a separate snap_sigs aggregate, spares
    # the 4/5-corpus re-aggregate AND the 1/5-corpus batch re-minhash
    # inside the incremental probe (the corpus signature aggregate runs
    # ONCE).  Identical rows by construction, asserted in the A/B and
    # oracle-checked; same-session interleaved A/B at sf0.1 local[32], full slot:
    # derived 3.38/3.08/3.15 s vs separate 5.32/5.06/4.24 s.
    snap_sigs = full_sigs.where(F.col("doc_id") % 5 != 0)
    batch_sigs = full_sigs.where(F.col("doc_id") % 5 == 0)
    snap_bands = dedup.minhash_band_rows(
        snap, "text", "doc_id", num_hashes=32, bands=8, shingle_n=3, hash_fn="md5",
        signatures=snap_sigs,
    )
    inc = dedup.incremental_minhash_neardup(
        batch, snap_bands, snap_sigs, "text", "doc_id",
        threshold=0.8, num_hashes=32, bands=8, shingle_n=3, hash_fn="md5",
        signatures=batch_sigs,
    ).select(
        F.lit("incremental").alias("section"),
        F.col("doc_id").alias("doc_a"),
        F.col("snapshot_id").alias("doc_b"),
        F.col("est_jaccard").alias("jaccard"),
    )
    return full.unionByName(inc)


_CLUSTER_ORACLE = f"""
WITH pairs AS ({dedup.jaccard_pairs_exact_sql(_JACCARD_SRC, _JACCARD_THRESHOLD)}),
comp AS ({dedup.neardup_clusters_sql("SELECT doc_a, doc_b FROM pairs")}),
sizes AS (
  SELECT doc_id, count(*) AS n_tok
  FROM ({dedup._distinct_token_rows_sql(_JACCARD_SRC)}) t GROUP BY doc_id
),
labeled AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         CAST(CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS INT)
           AS is_survivor
  FROM ({_JACCARD_SRC}) d
  LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT 'minid' AS section, doc_id, cluster_id, is_survivor FROM labeled
UNION ALL
SELECT 'best' AS section, l.doc_id, l.cluster_id,
       CAST(CASE WHEN row_number() OVER (
           PARTITION BY l.cluster_id
           ORDER BY COALESCE(s.n_tok, 0) DESC, l.doc_id ASC
       ) = 1 THEN 1 ELSE 0 END AS INT) AS is_survivor
FROM labeled l LEFT JOIN sizes s ON l.doc_id = s.doc_id
"""


def _cluster_quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc distinct word-token count — the X60 election score, the
    oracle's ``sizes`` CTE (rows of ``dedup._distinct_token_rows_sql``
    per doc), 0 for token-less docs on BOTH engines so election never
    hinges on the scored-vs-unscored tier."""
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(dedup.word_tokens(F.col("text")))).alias("score"),
    )


@register_sections("neardup_clusters", _CLUSTER_ORACLE)
def neardup_clusters_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Exact-Jaccard near-dup pairs of the doc_id < ``_JACCARD_MAX_ID``
    slice resolved into duplicate clusters, with one survivor each under
    two election rules:

    - ``minid``: :func:`dedup.neardup_clusters`, the convergence-checked
      propagation with checkpoint-bounded lineage; the survivor is the
      min doc id of the connected component and isolated docs are their
      own cluster.
    - ``best``: the same clusters re-elected by
      :func:`dedup.cluster_best_survivors` with score = distinct-token
      count (the oracle's ``sizes`` CTE); ties break to the min id.

    The propagation runs once: ``neardup_clusters`` returns a
    checkpoint-backed frame that the ``best`` election reads."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _JACCARD_MAX_ID)
    pairs = dedup.jaccard_pairs_exact(docs, "text", "doc_id", threshold=_JACCARD_THRESHOLD)
    labels = dedup.neardup_clusters(pairs, all_ids=docs.select("doc_id"))
    best = dedup.cluster_best_survivors(labels, _cluster_quality_scores(docs))
    cols = ("doc_id", "cluster_id", "is_survivor")
    return {
        "minid": labels.select(F.lit("minid").alias("section"), *cols),
        "best": best.select(F.lit("best").alias("section"), *cols),
    }


def _simhash_oracle(max_hamming: int) -> str:
    """DuckDB twin of simhash_neardup(hash_fn='md5'): the 60-bit token
    hash is the ``hex_int_sql`` of md5(tok)'s leading 15 hex digits, and
    every later stage (±1 bit sums, sign reassembly, banding, bit_count
    hamming) is plain integer SQL on both sides.  The banding is
    :func:`dedup.hamming_neardup`'s: ``max_hamming + 1`` chunks with
    boundaries at ``i·bits // (max_hamming + 1)``, so the twin finds
    every pair within any bound."""
    bits = dedup.SIMHASH_BITS["md5"]
    nchunks = max_hamming + 1
    bounds = [i * bits // nchunks for i in range(nchunks + 1)]
    chunk_rows = ", ".join(
        f"({c}, {bounds[c]}, {(1 << (bounds[c + 1] - bounds[c])) - 1})"
        for c in range(nchunks)
    )
    toks = dedup._distinct_token_rows_sql("SELECT doc_id, text FROM documents")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    reassemble = " + ".join(
        f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return f"""
WITH tok2 AS (
  SELECT doc_id, {hex_int_sql("md5(tok)", 1, 15)} AS h FROM ({toks}) t
),
sums AS (SELECT doc_id, {bit_sums} FROM tok2 GROUP BY doc_id),
sig AS (SELECT doc_id, ({reassemble}) AS sim FROM sums),
chunks AS (
  SELECT doc_id, sim, c.chunk, (sim >> c.lo) & c.mask AS ck
  FROM sig, (VALUES {chunk_rows}) c(chunk, lo, mask)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sim, b.sim)) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


@register("neardup_simhash", _simhash_oracle(max_hamming=3))
def q_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, so 4 pigeonhole chunks of
    15 bits in :func:`dedup.hamming_neardup`), registered with the
    md5-derived 60-bit hash so the ENTIRE pipeline —
    token hash, bit sums, sign reassembly, chunk-bucket join, hamming
    filter — is DuckDB-hash-checked.  The 64-bit xxhash64 variant stays
    the library default (faster; same algorithm, wider hash)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_neardup(docs, "text", "doc_id", max_hamming=3, hash_fn="md5")


# --------------------------------------------------------------------------
# Dataset splitting / sampling
# --------------------------------------------------------------------------

from pyspark_dist_explore_spark.operators.sampling import (  # noqa: E402
    cap_per_key,
    cap_per_key_sql,
    hash_split,
    hash_split_sql,
    materialize_mixture,
    top_frac_per_group,
    top_frac_per_group_sql,
    shuffle_shards,
    shuffle_shards_sql,
    stratified_sample_hash,
    proportional_interleave,
    proportional_interleave_sql,
    sample_negatives,
    sample_negatives_sql,
    stratified_sample_hash_sql,
    stratified_take_exact,
    stratified_take_exact_sql,
    temperature_resample,
    temperature_resample_sql,
)
from pyspark_dist_explore_spark.pipeline import curate_documents  # noqa: E402


#: the X46 per-shard integrity stats that unpivot into the
#: ``source='manifest:*'`` rows of ``corpus_shuffle_shards`` — the
#: 44-bit md5 fold is the one piece of the manifest arithmetic the
#: full-assignment hash doesn't already prove; sums fit BIGINT at any
#: test SF
_MANIFEST_STATS_SQL = f"""
SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id,
       CAST(sum({hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 1, 11)}) AS BIGINT)
         AS hash_sum
FROM sh GROUP BY 1
"""

_MANIFEST_STAT_NAMES = ("n_rows", "sum_id", "min_id", "max_id", "hash_sum")

#: X53 interleave weights for the registered section: a varied integer
#: mixture over the synthetic corpus's 20 sources (1..5 repeating, so
#: strides differ and tie groups exist at every lcm multiple) — the
#: closed-form global position is hash-checked row for row
_IL_WEIGHTS = {f"src{i}": 1 + (i % 5) for i in range(20)}

#: X63 negative-sampling gate config: 2 draws per anchor with the
#: same-source false-negative guard ON, so the guard's drop path (an
#: anchor deliberately carrying < k rows) is exercised at the gate
_NEG_K = 2
_NEG_SALT = "neg0"


@register_sections(
    "corpus_shuffle_shards",
    f"""
WITH sh AS ({shuffle_shards_sql(
        "SELECT doc_id, source FROM documents",
        "doc_id",
        shards=8,
        salt="epoch0",
        out_cols=["doc_id", "source"],
    )})
SELECT * FROM sh
UNION ALL
SELECT val AS doc_id, concat('manifest:', stat) AS source, shard,
       CAST(0 AS INT) AS pos
FROM (
  {" UNION ALL ".join(
        f"SELECT shard, '{s}' AS stat, {s} AS val FROM ({_MANIFEST_STATS_SQL}) m{i}"
        for i, s in enumerate(_MANIFEST_STAT_NAMES)
    )}
)
UNION ALL
SELECT doc_id, concat('interleave:', source) AS source,
       CAST("rank" AS INT) AS shard, CAST(pos AS INT) AS pos
FROM ({proportional_interleave_sql(
        "SELECT doc_id, source FROM documents",
        "source",
        "doc_id",
        weights=_IL_WEIGHTS,
        salt="il0",
        shards=16,
        out_cols=["doc_id", "source"],
    )})
UNION ALL
SELECT anchor_id AS doc_id,
       concat('neg:', CAST(neg_id AS VARCHAR)) AS source,
       draw AS shard, CAST(0 AS INT) AS pos
FROM ({sample_negatives_sql(
        "SELECT doc_id, source FROM documents",
        "doc_id",
        k=_NEG_K,
        salt=_NEG_SALT,
        group_col="source",
    )})
""",
)
def corpus_shuffle_shards_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Deterministic training shuffle and three companions, one section
    each, all in the ``(doc_id, source, shard, pos)`` schema:

    - ``shuffle``: :func:`shuffle_shards` orders the corpus by
      ``md5(salt:doc_id)``, splits it into 8 hash-balanced shards and
      numbers rows within each shard — one shuffle (window hash
      partition by shard) and a per-shard sort, never a global
      order-by.  Every row's shard and position is hash-checked.
    - ``manifest`` (``source='manifest:<stat>'``): the
      :func:`~pyspark_dist_explore_spark.sources.sinks.shard_manifest`
      card per shard — row count, id sum and bounds, and the 44-bit
      md5-fold sum, which checks the fold arithmetic cross-engine
      (Spark ``conv(hex,16,10)`` vs DuckDB ``'0x'`` cast).
    - ``interleave`` (``source='interleave:<src>'``):
      :func:`proportional_interleave` over the ``_IL_WEIGHTS`` 20-source
      mixture; ``shard`` carries the within-source rank and ``pos`` the
      closed-form global position.
    - ``neg`` (``source='neg:<neg_id>'``): :func:`sample_negatives` with
      ``k=_NEG_K`` draws per anchor and the same-source false-negative
      guard on, so the fewer-than-k drop path is hash-checked; ``shard``
      carries the draw index.
    """
    from pyspark_dist_explore_spark.sources.sinks import shard_manifest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sharded = shuffle_shards(docs, "doc_id", shards=8, salt="epoch0")
    mani = (
        shard_manifest(sharded, "shard", "doc_id")
        .selectExpr(
            "shard",
            "stack(5, "
            "'n_rows', n_rows, "
            "'sum_id', CAST(sum_id AS BIGINT), "
            "'min_id', min_id, "
            "'max_id', max_id, "
            "'hash_sum', CAST(hash_sum AS BIGINT)"
            ") as (stat, val)",
        )
        .select(
            F.col("val").cast("bigint").alias("doc_id"),
            F.concat(F.lit("manifest:"), F.col("stat")).alias("source"),
            "shard",
            F.lit(0).cast("int").alias("pos"),
        )
    )
    il = proportional_interleave(
        docs, "source", "doc_id", weights=_IL_WEIGHTS, salt="il0", shards=16
    ).select(
        "doc_id",
        F.concat(F.lit("interleave:"), F.col("source")).alias("source"),
        F.col("rank").cast("int").alias("shard"),
        F.col("pos").cast("int").alias("pos"),
    )
    neg = sample_negatives(
        docs, "doc_id", k=_NEG_K, salt=_NEG_SALT, group_col="source"
    ).select(
        F.col("anchor_id").alias("doc_id"),
        F.concat(F.lit("neg:"), F.col("neg_id").cast("string")).alias("source"),
        F.col("draw").cast("int").alias("shard"),
        F.lit(0).cast("int").alias("pos"),
    )
    return {"shuffle": sharded, "manifest": mani, "interleave": il, "neg": neg}


_STRAT_FRACS = {"en": 0.5, "de": 0.5, "es": 0.5, "zh": 1.0, "fr": 1.0}

#: X24 temperature-resample coefficient for the registered section:
#: rate_g = min(1, 4/√n_g) downsamples EVERY language at every test SF
#: (en hardest), so the flattening is non-trivial at the gate; the
#: keep-all branch (tiny group) is pinned in pytest.
_TEMP_COEFF = 4.0

#: X26 exact-take targets: en capped hard, es capped, zh keep-all
#: (target > n at every SF), de zero, fr unlisted → dropped — the five
#: behaviors an exact-count mixture recipe exercises.
_TAKE_TARGETS = {"en": 120, "es": 50, "zh": 100_000, "de": 0}

#: X41 host-cap knobs for the registered section: the synthetic corpus
#: has no URL column, so "host" is the source/lang composite — 100
#: groups whose sizes range ~1..15 at sf0.01, so ``n=5`` caps the
#: en-heavy groups and keeps the small ones whole (a genuinely MIXED
#: gate; a bare ``source`` key is uniform-25 and would cap everything)
_HOST_CAP_N = 5
#: explicit coalesce on BOTH components (house NULL convention — Spark
#: concat_ws would DROP a NULL and its separator while DuckDB concat
#: renders it '', so an uncoalesced NULL source/lang diverges the key)
_HOST_KEY_SQL = "concat(coalesce(source, ''), '/', coalesce(lang, ''))"

#: X40 merge count for the registered section: 8 merges over the ~31
#: word types exercise the full greedy loop (the corpus yields mixed
#: multi-round merges of merged symbols) while keeping the unrolled
#: DuckDB twin and the sequential Spark rounds gate-cheap; larger k
#: stays pytest-pinned against the pure-Python reference
#: X48 unigram-seed gate config: substrings to length 4, top 32
#: multi-char candidates (+ all chars) — section-sized, set-sensitive
_USEED_LEN = 4
_USEED_N = 32
_BPE_K = 8


#: normalized whitespace token count shared by the mixture queries
#: (`corpus_token_budget` budgets and the X44 `mix_epochs` section)
_MIX_NTOK = dedup.n_tokens_sql(dedup.NORMALIZE_SQL.format(c="text"))


#: X44 mix_epochs section: per-source token targets derived FROM the
#: corpus itself (static absolute targets would be sf-dependent) — the
#: three registered behaviors: src0 down-samples to half its tokens
#: (partial epoch only), src1 up-samples to 2⅓× (two full epochs + a
#: partial), src2 hits exactly 1.0× (one full epoch, rem == 0 — the
#: no-partial boundary); every other source is unlisted and drops
_MIX_EPOCH_SOURCES = ("src0", "src1", "src2")

_MIX_EPOCHS_ORACLE = f"""
SELECT 'mix_epochs' AS kind,
       concat(source, '#', CAST(epoch AS VARCHAR), '#',
              CAST(doc_id % 7 AS VARCHAR)) AS key,
       count(*) AS cnt
FROM (
  SELECT doc_id, source,
         CAST(unnest(generate_series(1, CAST(__copies AS INT))) AS INT) AS epoch
  FROM (
    SELECT doc_id, source,
           __full + CASE WHEN __rem > 0 AND __cum <= __rem THEN 1 ELSE 0 END
             AS __copies
    FROM (
      SELECT doc_id, source,
             CASE WHEN __tot > 0 THEN __tgt // __tot ELSE 0 END AS __full,
             CASE WHEN __tot > 0
                  THEN __tgt - (__tgt // __tot) * __tot ELSE 0 END AS __rem,
             __cum, __tot
      FROM (
        SELECT doc_id, source,
               CAST(sum(n_tok) OVER (
                 PARTITION BY source
                 ORDER BY {salted_md5_sql("'mix0'", "doc_id")},
                          CAST(doc_id AS VARCHAR)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __cum,
               CAST(sum(n_tok) OVER (PARTITION BY source) AS BIGINT) AS __tot,
               CAST(CASE source
                 WHEN 'src0' THEN (sum(n_tok) OVER (PARTITION BY source)) // 2
                 WHEN 'src1' THEN 2 * (sum(n_tok) OVER (PARTITION BY source))
                                  + (sum(n_tok) OVER (PARTITION BY source)) // 3
                 WHEN 'src2' THEN sum(n_tok) OVER (PARTITION BY source)
               END AS BIGINT) AS __tgt
        FROM (
          SELECT doc_id, source, {{ntok}} AS n_tok FROM documents
          WHERE source IN ('src0', 'src1', 'src2')
        ) mb
      ) mw
    ) mf
  ) mc
  WHERE __copies > 0
) mx
GROUP BY 1, 2
"""


#: corpus cap for the slot's BPE learn→encode sections: tokenizer
#: induction is SAMPLE-based at any real scale (nobody fits a merge
#: table on 100 TB — the standard recipe caps the training slice), so
#: the gate section learns AND encodes on doc_id < _BPE_CAP on both
#: engines.  600 > the 500-doc sf0.01 gate corpus — driver CORRECTNESS
#: rows stay byte-identical — while the sf0.1 bench stops paying the
#: eager k-round learn loop over 5 000 docs (the slot's dominant
#: build-time cost).  Every other section still runs the full table.
_BPE_CAP = 600
_BPE_SRC = f"SELECT doc_id, source, text FROM documents WHERE doc_id < {_BPE_CAP}"


@register_sections(
    "sampling_splits",
    f"""
WITH fert AS MATERIALIZED ({textstats.bpe_fertility_sql(_BPE_SRC, "source", k=_BPE_K)})
SELECT 'hash_split' AS kind, {hash_split_sql('doc_id')} AS key, count(*) AS cnt
FROM documents GROUP BY 1, 2
UNION ALL
SELECT 'strat_lang' AS kind, lang AS key, count(*) AS cnt FROM documents
WHERE {stratified_sample_hash_sql('lang', 'doc_id', _STRAT_FRACS)}
GROUP BY 1, 2
UNION ALL
SELECT 'temp_resample' AS kind, lang AS key, count(*) AS cnt
FROM ({temperature_resample_sql("SELECT doc_id, lang FROM documents", "lang", "doc_id", coeff=_TEMP_COEFF)})
GROUP BY 1, 2
UNION ALL
SELECT 'strat_exact' AS kind,
       concat(lang, '#', CAST(doc_id % 7 AS VARCHAR)) AS key,
       count(*) AS cnt
FROM ({stratified_take_exact_sql("SELECT doc_id, lang FROM documents", "lang", "doc_id", _TAKE_TARGETS)})
GROUP BY 1, 2
UNION ALL
SELECT 'host_cap' AS kind,
       concat(host, '#', CAST(doc_id % 7 AS VARCHAR)) AS key,
       count(*) AS cnt
FROM ({cap_per_key_sql(f"SELECT doc_id, {_HOST_KEY_SQL} AS host FROM documents", "host", "doc_id", _HOST_CAP_N)})
GROUP BY 1, 2
UNION ALL
SELECT 'bpe_merge' AS kind,
       concat(printf('%02d', step), ':', pair, '>', merged) AS key,
       cnt
FROM ({textstats.bpe_merges_sql(f"SELECT doc_id, text FROM documents WHERE doc_id < {_BPE_CAP}", k=_BPE_K)})
UNION ALL
SELECT 'bpe_fertility' AS kind, concat(grp, '#', stat) AS key, val AS cnt
FROM (
  SELECT grp, 'tok' AS stat, n_tokens AS val FROM fert
  UNION ALL
  SELECT grp, 'sub' AS stat, n_subwords AS val FROM fert
)
UNION ALL
SELECT 'top_frac' AS kind,
       concat(source, '#', CAST(doc_id % 7 AS VARCHAR)) AS key,
       count(*) AS cnt
FROM ({top_frac_per_group_sql(
    "SELECT doc_id, source, CAST(round(" + _quality_sql("COALESCE(text, '')") + " * 1e6) AS BIGINT) AS q6 FROM documents",
    "source", "q6", (1, 4), "doc_id")})
GROUP BY 1, 2
UNION ALL
{_MIX_EPOCHS_ORACLE.format(ntok=_MIX_NTOK)}
UNION ALL
SELECT 'unigram_seed' AS kind, piece AS key, cnt
FROM ({textstats.unigram_seed_sql(f"SELECT text FROM documents WHERE doc_id < {_BPE_CAP}", max_piece_len=_USEED_LEN, seed_size=_USEED_N)})
""",
)
def sampling_splits_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Deterministic sampling and tokenizer-induction surface, one
    section per ``kind`` tag, all in the ``(kind, key, cnt)`` schema.
    Every sampler is md5-keyed, so the kept SET (not just its size) is
    hash-checked; set-sensitive sections sub-bucket kept rows by
    ``doc_id % 7``.

    - ``hash_split``: :func:`hash_split` train/val/test counts.
    - ``strat_lang``: :func:`stratified_sample_hash` per-language
      downsample counts at ``_STRAT_FRACS``.
    - ``temp_resample``: :func:`temperature_resample` counts, keep rate
      ``min(1, coeff·n^(τ−1))`` at τ=0.5, ``coeff=_TEMP_COEFF``.
    - ``strat_exact``: :func:`stratified_take_exact` at
      ``_TAKE_TARGETS``.
    - ``host_cap``: :func:`cap_per_key`, at most ``_HOST_CAP_N`` docs per
      source/lang "host".
    - ``bpe_merge`` / ``bpe_fertility``: the first ``_BPE_K`` greedy
      merges of :func:`textstats.bpe_learn` (``step:pair>merged`` keys)
      and the per-source token/subword sums of
      :func:`textstats.bpe_encode` applying them back.
    - ``top_frac``: :func:`top_frac_per_group`, the per-source top 25%
      by the 1e-6 fixed-point quality score.
    - ``mix_epochs``: :func:`materialize_mixture` with per-source token
      targets derived from the corpus totals (down-sampling, 2⅓×
      up-sampling, and the exact-1.0× boundary).
    - ``unigram_seed``: :func:`textstats.unigram_seed_candidates`, the
      candidate-piece table unigram-LM induction starts from.

    Both tokenizer inductions run on the ``_BPE_CAP`` sample slice off
    one staged word-frequency table, and the BPE greedy fits on the
    driver (``fit='driver'``).  Building the dict runs two jobs: the
    BPE type-table collect and the mixture token-totals collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    splits = (
        hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("hash_split").alias("kind"), F.col("split").alias("key"), "cnt")
    )
    strat = (
        stratified_sample_hash(docs, "lang", _STRAT_FRACS, "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("strat_lang").alias("kind"), F.col("lang").alias("key"), "cnt")
    )
    temp = (
        temperature_resample(
            docs.select("doc_id", "lang"), "lang", "doc_id", coeff=_TEMP_COEFF
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("temp_resample").alias("kind"), F.col("lang").alias("key"), "cnt")
    )
    # X26: counts alone would be vacuous for an exact-count take (both
    # engines trivially keep min(target, n) rows) — sub-bucketing the
    # kept rows by doc_id % 7 makes the hashed section SET-sensitive:
    # a single swapped selection almost surely shifts an id-class count.
    take = (
        stratified_take_exact(
            docs.select("doc_id", "lang"), "lang", "doc_id", _TAKE_TARGETS
        )
        .groupBy(
            F.concat(
                F.col("lang"), F.lit("#"), (F.col("doc_id") % 7).cast("string")
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("strat_exact").alias("kind"), "key", "cnt")
    )
    hosts = docs.select(
        "doc_id",
        F.concat_ws(
            "/",
            F.coalesce(F.col("source"), F.lit("")),
            F.coalesce(F.col("lang"), F.lit("")),
        ).alias("host"),
    )
    capped = (
        cap_per_key(hosts, "host", "doc_id", _HOST_CAP_N)
        .groupBy(
            F.concat(
                F.col("host"), F.lit("#"), (F.col("doc_id") % 7).cast("string")
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("host_cap").alias("kind"), "key", "cnt")
    )
    # the type table of a 600-doc slice is ~10³ rows, far under the
    # driver fit's 1M collect guard
    bdocs = docs.where(F.col("doc_id") < _BPE_CAP)
    # lazy checkpoint: the BPE driver fit's type-table collect is the
    # materializing action; the unigram seed then reads the blocks
    wf = textstats.bpe_word_freqs(bdocs, "text").localCheckpoint(eager=False)
    learned = textstats.bpe_learn(
        bdocs, "text", k=_BPE_K, word_freqs=wf, fit="driver"
    )
    bpe = learned.select(
        F.lit("bpe_merge").alias("kind"),
        F.concat(
            F.format_string("%02d", F.col("step")),
            F.lit(":"), F.col("pair"), F.lit(">"), F.col("merged"),
        ).alias("key"),
        "cnt",
    )
    fert = (
        textstats.bpe_encode(bdocs, "text", "doc_id", learned, extra_cols=("source",))
        .groupBy(F.col("source").cast("string").alias("grp"))
        .agg(
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_subwords").cast("bigint").alias("n_subwords"),
        )
        .selectExpr(
            "grp",
            "stack(2, 'tok', n_tokens, 'sub', n_subwords) as (stat, val)",
        )
        .select(
            F.lit("bpe_fertility").alias("kind"),
            F.concat(F.col("grp"), F.lit("#"), F.col("stat")).alias("key"),
            F.col("val").cast("bigint").alias("cnt"),
        )
    )
    _, _, qual = textstats.quality_ratio_exprs(F.col("text"))
    tfrac = (
        top_frac_per_group(
            docs.select(
                "doc_id",
                F.col("source").cast("string").alias("source"),
                F.round(qual * F.lit(1e6)).cast("bigint").alias("q6"),
            ),
            "source",
            "q6",
            (1, 4),
            "doc_id",
        )
        .groupBy(
            F.concat(
                F.col("source"), F.lit("#"), (F.col("doc_id") % 7).cast("string")
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("top_frac").alias("kind"), "key", "cnt")
    )
    mixdocs = docs.where(F.col("source").isin(list(_MIX_EPOCH_SOURCES))).select(
        "doc_id",
        F.col("source").cast("string").alias("source"),
        dedup.n_tokens(F.col("text")).alias("n_tok"),
    )
    tots = {
        r["source"]: int(r["tot"])
        for r in mixdocs.groupBy("source")
        .agg(F.sum("n_tok").alias("tot"))
        .collect()  # bounded-collect: 3-row per-source token totals (the targets' inputs)
    }
    targets = {
        "src0": tots.get("src0", 0) // 2,
        "src1": 2 * tots.get("src1", 0) + tots.get("src1", 0) // 3,
        "src2": tots.get("src2", 0),
    }
    mix = (
        materialize_mixture(mixdocs, "source", "n_tok", "doc_id", targets)
        .groupBy(
            F.concat(
                F.col("source"), F.lit("#"), F.col("epoch").cast("string"),
                F.lit("#"), (F.col("doc_id") % 7).cast("string"),
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("mix_epochs").alias("kind"), "key", "cnt")
    )
    # the Viterbi-EM rounds after the seed are not DuckDB-expressible
    # and stay pytest-pinned
    useed = textstats.unigram_seed_candidates(
        bdocs,
        "text",
        max_piece_len=_USEED_LEN,
        seed_size=_USEED_N,
        word_freqs=wf,
    ).select(
        F.lit("unigram_seed").alias("kind"),
        F.col("piece").alias("key"),
        "cnt",
    )
    return {
        "hash_split": splits,
        "strat_lang": strat,
        "temp_resample": temp,
        "strat_exact": take,
        "host_cap": capped,
        "bpe_merge": bpe,
        "bpe_fertility": fert,
        "top_frac": tfrac,
        "mix_epochs": mix,
        "unigram_seed": useed,
    }


#: per-source token budgets for the mixture query: a partial keep
#: (src0–src3 at shrinking budgets), a keep-all at this SF (src4), a
#: zero budget (src5), and every other source dropped entirely — the
#: four behaviors a mixture recipe exercises
_MIX_BUDGETS = {
    "src0": 800,
    "src1": 600,
    "src2": 400,
    "src3": 200,
    "src4": 10_000,
    "src5": 0,
}

#: X70 gate config: 20 docs per source, weight = n_tok + 1 (the "+1"
#: keeps empty docs drawable — every weight strictly positive)
_WRS_K = 20
_WRS_SALT = "wrs0"

@register_sections(
    "corpus_token_budget",
    f"""
SELECT 'budget' AS section, doc_id, source, quality, n_tok,
       CAST(0 AS INT) AS wrs_rank
FROM ({select_by_token_budget_stratified_sql(
        f"SELECT doc_id, source, {_quality_sql('text')} AS quality, "
        f"{_MIX_NTOK} AS n_tok FROM documents",
        "source",
        "quality",
        "n_tok",
        _MIX_BUDGETS,
        ["doc_id", "source", "quality", "n_tok"],
    )})
UNION ALL
SELECT 'wrs' AS section, doc_id, source, quality, n_tok, wrs_rank
FROM ({weighted_reservoir_sample_sql(
        f"SELECT doc_id, source, {_quality_sql('text')} AS quality, "
        f"{_MIX_NTOK} AS n_tok, {_MIX_NTOK} + 1 AS w FROM documents",
        _WRS_K,
        weight_col="w",
        group_col="source",
        id_col="doc_id",
        salt=_WRS_SALT,
    )})
""",
)
def corpus_token_budget_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Two data-mixing draws over the same scored corpus (row-local
    1e-6-rounded quality score + token count), one ``section`` each:

    - ``budget``: :func:`select_by_token_budget_stratified` — per-source
      token budgets filled best quality first.  Quality is bucketed into
      1000 fixed bins, one per-(source, bin) aggregate resolves the
      cumulative threshold, and a broadcast semi-join admits the
      keep-set.  ``_MIX_BUDGETS`` covers partial, keep-all, zero and
      dropped sources.
    - ``wrs``: :func:`weighted_reservoir_sample` — Efraimidis–Spirakis
      A-ES over md5 uniforms, ``_WRS_K`` docs per source with weight
      ``n_tok + 1``; kept rows and their ``wrs_rank`` are hash-checked.
      The ``ln()`` in the key is class C in ORACLES.md (measured key
      gaps are ~10¹² ulps).
    """
    from pyspark_dist_explore_spark.operators.sampling import (
        select_by_token_budget_stratified,
        weighted_reservoir_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = dedup.n_tokens(t)
    _, _, quality = textstats.quality_ratio_exprs(t)
    scored = docs.select(
        "doc_id",
        "source",
        F.round(quality, 6).alias("quality"),
        n_tok.alias("n_tok"),
    )
    budget = select_by_token_budget_stratified(
        scored, "source", "quality", "n_tok", _MIX_BUDGETS
    ).select(
        F.lit("budget").alias("section"),
        "doc_id",
        "source",
        "quality",
        "n_tok",
        F.lit(0).cast("int").alias("wrs_rank"),
    )
    wrs = weighted_reservoir_sample(
        scored.withColumn("w", F.col("n_tok") + 1),
        _WRS_K,
        weight_col="w",
        group_col="source",
        id_col="doc_id",
        salt=_WRS_SALT,
    ).select(
        F.lit("wrs").alias("section"),
        "doc_id",
        "source",
        "quality",
        "n_tok",
        F.col("wrs_rank").cast("int").alias("wrs_rank"),
    )
    return {"budget": budget, "wrs": wrs}


# --------------------------------------------------------------------------
# The composed curation pipeline (pipeline.curate_documents)
# --------------------------------------------------------------------------

#: quality threshold sits inside the synthetic corpus' tight 0.90–0.93
#: band so the filter is non-trivial (drops ~a quarter of docs)
_CURATE_MIN_QUALITY = 0.908
_CURATE_MAX_ID = 300  # bounds the demo's exact-Jaccard pair stage only


def _curate_oracle() -> str:
    """DuckDB twin of the WHOLE curation pipeline: quality + language
    scoring (shared fragments with text_quality / text_lang_id), md5
    fingerprint dedup with arg_min survivor, exact-Jaccard pairs
    (:func:`dedup.jaccard_pairs_exact_sql`), their connected components
    (:func:`dedup.neardup_clusters_sql`), survivor filter, md5 split."""
    norm = dedup.NORMALIZE_SQL.format(c="text")
    langs = sorted(textstats.LANG_MARKERS)
    score_exprs = _lang_score_sql()
    in_list = ", ".join(sql_str_lit(lang) for lang in langs)
    return f"""
WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < {_CURATE_MAX_ID}),
scored AS (
  SELECT doc_id, text, {_quality_sql('text')} AS quality,
         concat(' ', {norm}, ' ') AS p
  FROM src),
langed AS (
  SELECT doc_id, text, quality,
         {", ".join(f"{score_exprs[lang]} AS score_{lang}" for lang in langs)}
  FROM scored),
pred AS (
  SELECT doc_id, text, quality, {_lang_pred_case_sql()} AS lang_pred
  FROM langed),
filt AS (
  SELECT doc_id, text, quality, lang_pred FROM pred
  WHERE quality >= {_CURATE_MIN_QUALITY} AND lang_pred IN ({in_list})),
kept AS (
  SELECT min(doc_id) AS doc_id,
         arg_min(text, doc_id) AS text,
         arg_min(quality, doc_id) AS quality,
         arg_min(lang_pred, doc_id) AS lang_pred
  FROM filt GROUP BY md5({norm})),
pairs AS ({dedup.jaccard_pairs_exact_sql("SELECT doc_id, text FROM kept", _JACCARD_THRESHOLD)}),
comp AS ({dedup.neardup_clusters_sql("SELECT doc_a, doc_b FROM pairs")})
SELECT k.doc_id, k.lang_pred, k.quality, {hash_split_sql('k.doc_id')} AS split
FROM kept k LEFT JOIN comp c ON k.doc_id = c.node
WHERE COALESCE(c.cluster_id, k.doc_id) = k.doc_id
"""


@register("pipeline_curate", _curate_oracle())
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline as ONE oracle-
    checked query: quality filter → language filter → exact fingerprint
    dedup → near-dup cluster removal (exact-Jaccard pairs → connected
    components → min-id survivor) → deterministic md5 train/val/test
    split.  Every stage is individually driver-checked elsewhere; this
    row proves the COMPOSITION.  The id cap bounds only the demo's
    quadratic exact-Jaccard pair stage — at scale pass a MinHash
    ``pair_fn`` (see pipeline.curate_documents docstring)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _CURATE_MAX_ID
    )
    return curate_documents(
        docs,
        "text",
        "doc_id",
        min_quality=_CURATE_MIN_QUALITY,
        allowed_langs=sorted(textstats.LANG_MARKERS),
        jaccard_threshold=_JACCARD_THRESHOLD,
    )


# --------------------------------------------------------------------------
# Eval-set decontamination: flag training docs sharing any
# ≥n-token word n-gram with a benchmark/eval corpus.
# --------------------------------------------------------------------------

_DECONTAM_NGRAM = 13  # the standard ≥13-token overlap rule


def _decontam_oracle(n: int, min_score: float) -> str:
    """DuckDB twin of decontam.decontaminate over a train/eval split of
    the documents table (eval = doc_id % 10 == 0): ONE distinct gram
    build (:func:`dedup._gram_rows_sql`, as in the minhash oracle)
    split into the two sides, an equi-join probe, and the per-doc
    flag with a keep-all left join; then the semantic probe, which
    flags training vectors within cosine ``min_score`` of an eval
    vector."""
    toks = dedup._token_rows_sql("SELECT doc_id, text FROM documents")
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, gram AS sh FROM ({dedup._gram_rows_sql(toks, n)}) g
),
tgrams AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 <> 0),
egrams AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_eval_grams
  FROM tgrams JOIN egrams USING (sh) GROUP BY doc_id
)
SELECT 'ngram' AS method, d.doc_id,
       COALESCE(h.n_eval_grams, CAST(0 AS BIGINT)) AS matched,
       CAST(COALESCE(h.n_eval_grams, 0) > 0 AS INT) AS flagged,
       CAST(NULL AS DOUBLE) AS score
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 <> 0) d
LEFT JOIN hits h USING (doc_id)
UNION ALL
SELECT 'semantic' AS method, pick.doc_id,
       CAST(pick.eval_id AS BIGINT) AS matched,
       CAST(1 AS INT) AS flagged,
       pick.score
FROM (
  WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
  u AS (SELECT vec_id, {_UNIT.format(v='ve')} AS uv FROM v),
  tr AS (SELECT * FROM u WHERE vec_id % 10 <> 0),
  evu AS (SELECT * FROM u WHERE vec_id % 10 = 0),
  sims AS (
    SELECT tr.vec_id AS doc_id, evu.vec_id AS eval_id,
           round(list_dot_product(tr.uv, evu.uv), 6) AS s
    FROM tr, evu
  ),
  best AS (SELECT doc_id, max(s) AS score FROM sims GROUP BY doc_id)
  SELECT sims.doc_id, min(sims.eval_id) AS eval_id, best.score
  FROM sims JOIN best ON sims.doc_id = best.doc_id AND sims.s = best.score
  WHERE best.score >= {min_score}
  GROUP BY sims.doc_id, best.score
) pick
"""


_SEM_DECONTAM_THRESHOLD = 0.35  # flags 61/450 at sf0.01 — discriminating


@register("decontaminate_eval", _decontam_oracle(_DECONTAM_NGRAM, _SEM_DECONTAM_THRESHOLD))
def q_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination, BOTH probes in one tagged result:

    - ``method='ngram'``: per training document, the count of distinct
      13-token word n-grams shared with the held-out "eval" slice
      (doc_id % 10 == 0 stands in for a benchmark table) — the exact
      leakage guard every pretraining pipeline runs.  Broadcast
      distinct eval grams, map-side probe, one doc_id-keyed aggregate.
    - ``method='semantic'``: embedding-space leakage the n-grams cannot
      see — training vectors within cosine ≥ 0.35 of any eval-slice
      vector (vec_id % 10 == 0), flagged with the best-matching eval id
      (@6-rounded sims, min-id tie-break — the SQL-mirrorable argmax).
      Broadcast eval matrix, mapInPandas BLAS probe, zero shuffle.

    Shared schema ``(method, doc_id, matched, flagged, score)``: ngram
    rows carry the gram count in ``matched``; semantic rows carry the
    eval id.  The whole union is DuckDB-hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    ev = docs.where(F.col("doc_id") % 10 == 0)
    ngram = decontam.decontaminate(
        train, ev, "text", "doc_id", ngram_n=_DECONTAM_NGRAM
    ).select(
        F.lit("ngram").alias("method"),
        "doc_id",
        F.col("n_eval_grams").alias("matched"),
        F.col("contaminated").alias("flagged"),
        F.lit(None).cast("double").alias("score"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = decontam.semantic_contaminated_ids(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0),
        threshold=_SEM_DECONTAM_THRESHOLD,
        id_col="vec_id",
        eval_id_col="vec_id",
    ).select(
        F.lit("semantic").alias("method"),
        "doc_id",
        F.col("eval_id").cast("bigint").alias("matched"),
        F.lit(1).alias("flagged"),
        F.col("cos_sim").alias("score"),
    )
    return ngram.unionByName(sem)


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------

from pyspark_dist_explore_spark.operators.packing import (  # noqa: E402
    _PACK_STRIDE,
    bucket_batches,
    bucket_batches_sql,
    chunk_documents,
    chunk_ids,
    chunk_pack_modes_sql,
    chunk_pack_sql,
    pack_related_documents,
    pack_sequences,
    pack_span_map,
)

_CHUNK_MAX = 128
_CHUNK_OVERLAP = 16
_PACK_MAX = 512
#: X50 related-packing gate config: 4 fixed domain cells (the unit
#: 1e-6-grid embeddings of vec_id < 4), 256-token packs
_REL_CELLS = 4
_REL_PACK_MAX = 256

#: X50 related-section oracle: domains + JL ordering + the cumsum pack
#: window over the 1e-6-discretized embeddings (exact integer rp keys,
#: round@6 argmax — the embedding_quantize section disciplines), as a
#: self-contained WITH subquery unioned under the chunk/pack oracle
def _related_pack_sql() -> str:
    unit6 = _UNIT.format(v="ve")
    rp1 = similarity.random_projection_sql("ve", 1, scale=False)
    return f"""
WITH v6 AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000)) AS ve
  FROM embeddings
),
u6 AS (SELECT vec_id, {unit6} AS uv FROM v6),
c6 AS (SELECT vec_id AS cent_id, uv AS cv FROM u6 WHERE vec_id < {_REL_CELLS}),
asg AS (
  SELECT vec_id, cent_id AS dom FROM (
    SELECT u6.vec_id, c6.cent_id,
           row_number() OVER (
             PARTITION BY u6.vec_id
             ORDER BY round(list_dot_product(u6.uv, c6.cv), 6) DESC,
                      c6.cent_id ASC
           ) AS rn
    FROM u6, c6
  ) WHERE rn = 1
),
rp AS (SELECT vec_id, ({rp1})[1] AS rp1 FROM v6),
rel AS (
  SELECT d.doc_id,
         {_MIX_NTOK} AS n_tokens,
         COALESCE(a.dom, -1) AS domain, r.rp1
  FROM documents d
  LEFT JOIN asg a ON d.doc_id = a.vec_id
  LEFT JOIN rp r ON d.doc_id = r.vec_id
)
SELECT doc_id AS chunk_id, n_tokens, CAST(domain AS INT) AS bucket,
       (domain + 1) * {_PACK_STRIDE}
         + CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY domain
             ORDER BY rp1 ASC NULLS LAST, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_REL_PACK_MAX}) AS BIGINT) AS pack_id,
       CASE WHEN n_tokens > {_REL_PACK_MAX} THEN 1 ELSE 0 END AS oversize
FROM rel"""


@register_sections(
    "pack_sequences",
    chunk_pack_modes_sql(
        "documents",
        "doc_id",
        chunk_max_tokens=_CHUNK_MAX,
        overlap=_CHUNK_OVERLAP,
        max_tokens=_PACK_MAX,
        buckets=32,
        norm_text_expr=dedup.NORMALIZE_SQL.format(c="text"),
    )
    + f"""
UNION ALL
SELECT 'related' AS mode, chunk_id, n_tokens, bucket, pack_id, oversize
FROM ({_related_pack_sql()})
UNION ALL
SELECT 'batch' AS mode, id AS chunk_id, n_tokens,
       pos_in_batch AS bucket, batch_id AS pack_id,
       CAST(pad AS INT) AS oversize
FROM ({bucket_batches_sql(
        "SELECT doc_id, text FROM documents",
        "doc_id",
        batch_size=16,
        token_count_expr=_MIX_NTOK,
    )})
""",
)
def pack_sequences_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Training-batch shaping, one section per ``mode`` tag, all in the
    ``(mode, chunk_id, n_tokens, bucket, pack_id, oversize)`` schema.

    Documents are first cut by :func:`chunk_documents` into ≤128-token
    windows with 16-token overlap (row-local, no shuffle) and given
    doc-major BIGINT chunk ids; that small id frame is staged with a
    lazy ``localCheckpoint`` because four sections read it.

    - ``cumsum`` / ``greedy`` / ``ffd``: :func:`pack_sequences` under
      each mode — md5-bucket shard plus exclusive running token count
      (one exchange), strict ≤-budget first-fit, and
      first-fit-decreasing.  The DuckDB twin replays first-fit as a
      recursive CTE, so every placement is hash-checked.
    - ``span``: :func:`pack_span_map` over the FFD packs — the
      half-open ``[start, end)`` token span of each chunk, carried in
      ``bucket``/``oversize``.  The FFD packing is staged so it runs once
      for ``ffd`` and ``span``.
    - ``related``: :func:`pack_related_documents` — whole docs packed
      within fixed embedding domains (unit embeddings of vec_id <
      ``_REL_CELLS``) in exact-integer JL order; ``bucket`` carries the
      domain.
    - ``batch``: :func:`bucket_batches` — whole docs sorted by token
      count and cut into 16-doc batches; ``pos_in_batch``, ``batch_id``
      and the per-row pad ride ``bucket``, ``pack_id`` and ``oversize``.
    """
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "text", "doc_id", max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP
    )
    ids = chunk_ids(chunks).localCheckpoint(eager=False)
    out = []
    ffd_packed = None
    for mode in ("cumsum", "greedy", "ffd"):
        packed = pack_sequences(
            ids,
            "chunk_id",
            token_count_col="n_tokens",
            max_tokens=_PACK_MAX,
            buckets=32,
            mode=mode,
        )
        if mode == "ffd":
            packed = packed.localCheckpoint(eager=False)
            ffd_packed = packed
        out.append(
            packed.withColumnRenamed("doc_id", "chunk_id").select(
                F.lit(mode).alias("mode"),
                "chunk_id",
                "n_tokens",
                "bucket",
                "pack_id",
                "oversize",
            )
        )
    # start/end are bounded by the pack budget, so the INT casts are exact
    span = pack_span_map(ffd_packed, order="ffd").select(
        F.lit("span").alias("mode"),
        F.col("doc_id").alias("chunk_id"),
        "n_tokens",
        F.col("start").cast("int").alias("bucket"),
        "pack_id",
        F.col("end").cast("int").alias("oversize"),
    )
    # inputs on the 1e-6 grid with a round@6 argmax and md5 planes keep
    # the JL order key exact; docs without an embedding pack together
    # under domain -1
    emb6 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )
    cents = emb6.where(F.col("vec_id") < _REL_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        similarity._unit(F.col("embedding")).alias("cv"),
    )
    rel = pack_related_documents(
        docs,
        emb6,
        "doc_id",
        text_col="text",
        max_tokens=_REL_PACK_MAX,
        centroids=cents,
        assign_round=6,
        hash_fn="md5",
        dim=embedding_dim(spark, sf_dir),
    ).select(
        F.lit("related").alias("mode"),
        F.col("doc_id").alias("chunk_id"),
        "n_tokens",
        F.col("domain").cast("int").alias("bucket"),
        "pack_id",
        "oversize",
    )
    batch = bucket_batches(docs, "doc_id", batch_size=16, text_col="text").select(
        F.lit("batch").alias("mode"),
        F.col("id").alias("chunk_id"),
        "n_tokens",
        F.col("pos_in_batch").alias("bucket"),
        F.col("batch_id").alias("pack_id"),
        F.col("pad").cast("int").alias("oversize"),
    )
    return {
        "cumsum": out[0],
        "greedy": out[1],
        "ffd": out[2],
        "span": span,
        "related": rel,
        "batch": batch,
    }


# --------------------------------------------------------------------------
# X4: similarity search over embeddings
# --------------------------------------------------------------------------

_UNIT_CTE = f"u AS (SELECT vec_id, {_UNIT.format(v='ve')} AS uv FROM v)"


_COS_THRESHOLD = 0.45

#: fixed semantic-dedup cells for the oracle-checked variant: the unit
#: embeddings of vec_id < _SEMDEDUP_CELLS act as centroids — data-derived
#: yet fully deterministic, so both engines compute identical assignments
_SEMDEDUP_CELLS = 4

#: corpus cap for the slot's EXACT ground-truth sections (topk + pairs):
#: those sections are O(N·Q) / O(N²) BY INTENT (they exist to be the
#: hash-checked exact baseline the ANN paths are recall-pinned against),
#: so they only need enough rows to stay SET-sensitive, not the whole
#: table.  600 > the 500-vector sf0.01 gate corpus — the driver's
#: CORRECTNESS rows are byte-identical to the uncapped form — while the
#: sf0.1 bench corpus (2 000 vectors) stops paying 4M dot products for
#: the audit sections (7.3 s → ~0.6 s).  The SCALE paths (semdedup
#: cells, LSH buckets) still run the FULL table.
_EXACT_CAP = 600


@register_sections(
    "vector_exact_search",
    f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
{_UNIT_CTE},
ue AS (SELECT vec_id, uv FROM u WHERE vec_id < {_EXACT_CAP}),
q AS (SELECT vec_id AS query_id, uv AS qv FROM u WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, ue.vec_id, round(list_dot_product(qv, uv), 6) AS cos_sim
  FROM ue, q WHERE ue.vec_id <> q.query_id
),
sd_cents AS (SELECT vec_id AS cent_id, uv AS cv FROM u WHERE vec_id < {_SEMDEDUP_CELLS}),
sd_asg AS (
  SELECT vec_id, cent_id FROM (
    SELECT u.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_dot_product(u.uv, c.cv), 6) DESC, c.cent_id ASC
           ) AS rn
    FROM u, sd_cents c
  ) WHERE rn = 1
),
sd_pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM (SELECT u.vec_id, u.uv, sd_asg.cent_id FROM u JOIN sd_asg USING (vec_id)) a
  JOIN (SELECT u.vec_id, u.uv, sd_asg.cent_id FROM u JOIN sd_asg USING (vec_id)) b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.uv, b.uv), 6) >= {_COS_THRESHOLD}
),
sd_comp AS ({dedup.neardup_clusters_sql("SELECT doc_a, doc_b FROM sd_pairs")}),
lshb AS (SELECT vec_id, uv, {similarity.lsh_bucket_sql('uv', 4)} AS bucket FROM u),
lshq AS (SELECT vec_id AS query_id, uv AS qv, bucket FROM lshb WHERE vec_id < 5),
lsh_scored AS (
  SELECT q.query_id, b.vec_id, round(list_dot_product(q.qv, b.uv), 6) AS cos_sim
  FROM lshb b JOIN lshq q USING (bucket) WHERE b.vec_id <> q.query_id
)
SELECT 'topk' AS kind, query_id AS id_a, vec_id AS id_b,
       CAST(rank AS INT) AS rank, cos_sim
FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
UNION ALL
SELECT 'pairs' AS kind, a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(NULL AS INT) AS rank,
       round(list_dot_product(a.uv, b.uv), 6) AS cos_sim
FROM ue a JOIN ue b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.uv, b.uv), 6) >= {_COS_THRESHOLD}
UNION ALL
SELECT 'semdedup' AS kind, v.vec_id AS id_a,
       COALESCE(sd_comp.cluster_id, v.vec_id) AS id_b,
       CAST(CASE WHEN COALESCE(sd_comp.cluster_id, v.vec_id) = v.vec_id
                 THEN 1 ELSE 0 END AS INT) AS rank,
       CAST(NULL AS DOUBLE) AS cos_sim
FROM v LEFT JOIN sd_comp ON v.vec_id = sd_comp.node
UNION ALL
SELECT 'lsh' AS kind, query_id AS id_a, vec_id AS id_b,
       CAST(rank AS INT) AS rank, cos_sim
FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM lsh_scored
) WHERE rank <= 5
UNION ALL
SELECT 'hardneg' AS kind, query_id AS id_a, vec_id AS id_b,
       CAST(rank AS INT) AS rank, cos_sim
FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored WHERE cos_sim < {_COS_THRESHOLD}
) WHERE rank <= 5
""",
)
def vector_exact_search_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Exact (ground-truth) similarity search and the deterministic
    forms of its scale paths, one section per ``kind`` tag, all in the
    ``(kind, id_a, id_b, rank, cos_sim)`` schema.  Queries are the
    vectors with vec_id < 5.

    - ``topk``: :func:`similarity.exact_topk` brute-force cosine top-5
      over the ``_EXACT_CAP`` corpus.
    - ``pairs``: :func:`similarity.cosine_neardup_pairs` — all pairs of
      the capped corpus at cosine ≥ ``_COS_THRESHOLD``.
    - ``semdedup``: :func:`similarity.semantic_dedup` with fixed
      centroids (unit embeddings of vec_id < ``_SEMDEDUP_CELLS``), so
      cell assignment, within-cell pairs and survivor resolution are
      hash-checked; ``id_b`` carries cluster_id and ``rank``
      is_survivor.
    - ``lsh``: :func:`similarity.ann_lsh_topk` with md5 planes — bucket,
      probe and exact re-rank.
    - ``hardneg``: :func:`similarity.mine_hard_negatives` — per-query
      top-5 below the dup threshold, on the same cosine grid as
      ``topk``.

    The exact sections are the baselines the ANN paths are
    recall-pinned against.  ``semantic_dedup`` stages its pair frame
    with a lazy localCheckpoint.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the exact audit sections search the capped corpus (see _EXACT_CAP);
    # the scale-path sections below (semdedup, lsh) search the full table
    embe = emb.where(F.col("vec_id") < _EXACT_CAP)
    # 'topk' and 'hardneg' rank the same (query × capped corpus) cosine
    # grid: compute and stage it once, feed both rankings via scores=
    grid = similarity.exact_scores(
        embe, queries, query_id_col="query_id"
    ).localCheckpoint(eager=False)
    topk = similarity.exact_topk(
        embe, queries, k=5, query_id_col="query_id", scores=grid
    ).select(
        F.lit("topk").alias("kind"),
        F.col("query_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("rank").cast("int").alias("rank"),
        "cos_sim",
    )
    # n_blocks=1: the corpus is bounded by _EXACT_CAP, so one ≤600²
    # matmul is memory-safe and the n_blocks² group fan-out is pure task
    # overhead (the tiling partitions the same pair space)
    pairs = similarity.cosine_neardup_pairs(
        embe, threshold=_COS_THRESHOLD, n_blocks=1
    ).select(
        F.lit("pairs").alias("kind"),
        "id_a",
        "id_b",
        F.lit(None).cast("int").alias("rank"),
        "cos_sim",
    )
    # dim via the process-global (path, mtime)-keyed cache: one row fetch
    # per corpus per process; the md5 plane vectors then inline as
    # literals (see lsh_bucket)
    lsh_dim = embedding_dim(spark, sf_dir)
    lsh = similarity.ann_lsh_topk(
        emb, queries, k=5, n_planes=4, hash_fn="md5", dim=lsh_dim
    ).select(
        F.lit("lsh").alias("kind"),
        F.col("query_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("rank").cast("int").alias("rank"),
        "cos_sim",
    )
    cents = emb.where(F.col("vec_id") < _SEMDEDUP_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        similarity._unit(F.col("embedding")).alias("cv"),
    )
    semdedup = similarity.semantic_dedup(
        emb,
        threshold=_COS_THRESHOLD,
        # blocking bounds per-task matmul memory; ≤2k vectors in 4
        # cells fit one block per cell
        n_blocks=1,
        centroids=cents,
        assign_round=6,
    ).select(
        F.lit("semdedup").alias("kind"),
        F.col("vec_id").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        F.col("is_survivor").cast("int").alias("rank"),
        F.lit(None).cast("double").alias("cos_sim"),
    )
    hardneg = similarity.mine_hard_negatives(
        embe, queries, k=5, dup_threshold=_COS_THRESHOLD,
        query_id_col="query_id", scores=grid,
    ).select(
        F.lit("hardneg").alias("kind"),
        F.col("query_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("rank").cast("int").alias("rank"),
        "cos_sim",
    )
    return {
        "topk": topk,
        "pairs": pairs,
        "semdedup": semdedup,
        "lsh": lsh,
        "hardneg": hardneg,
    }


def _winnowing_oracle(k: int, window: int) -> str:
    """DuckDB twin of winnowing_fingerprints(hash_fn='md5'): the md5 of
    each :func:`dedup._gram_rows_sql` gram (which keeps the token
    positions of the split array and the short-doc gram), the window-end
    filter, and the sliding window-min — structurally identical stages,
    so the fingerprint SET hash-matches without rounding games (md5 hex
    strings, exact)."""
    toks = dedup._token_rows_sql("SELECT doc_id, text FROM documents")
    return f"""
WITH g2 AS (
  SELECT doc_id, idx, md5(gram) AS h, n_tok FROM ({dedup._gram_rows_sql(toks, k)}) g
),
fp AS (
  SELECT doc_id, idx, n_tok,
         min(h) OVER (PARTITION BY doc_id ORDER BY idx
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fingerprint
  FROM g2
)
SELECT DISTINCT doc_id, fingerprint
FROM fp WHERE idx <= n_tok - {k} - {window - 1} OR idx = 0
"""


@register("text_winnowing_fp", _winnowing_oracle(k=5, window=4))
def q_text_winnowing_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: shared-passage detection.

    Registered with the md5 gram hash (STRING fingerprints) so the whole
    window-min selection is DuckDB-hash-checked.  xxhash64 (BIGINT
    fingerprints, faster) stays the library default; which gram each
    window selects is hash-dependent by design (any uniform hash gives a
    valid winnowing), so the two variants are separately pytest-pinned
    on the shared-substring guarantee rather than against each other."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.winnowing_fingerprints(
        docs, "text", "doc_id", k=5, window=4, hash_fn="md5"
    )


def _containment_oracle(*, threshold: float, max_df: int, k: int, window: int) -> str:
    """DuckDB twin of ``dedup.containment_pairs(hash_fn='md5')``: the
    registered winnowing-fingerprint twin as a CTE, then the identical
    max_df boilerplate drop, bucketed shared-count join, and
    per-direction containment ratios."""
    fp_sql = _winnowing_oracle(k=k, window=window)
    return f"""
WITH fps AS ({fp_sql}),
common AS (
  SELECT fingerprint FROM fps GROUP BY fingerprint HAVING count(*) <= {max_df}
),
kept AS (SELECT f.* FROM fps f SEMI JOIN common c ON f.fingerprint = c.fingerprint),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared, na.n_fp AS n_a, nb.n_fp AS n_b,
       round(CAST(shared AS DOUBLE) / na.n_fp, 6) AS containment_a,
       round(CAST(shared AS DOUBLE) / nb.n_fp, 6) AS containment_b
FROM shared JOIN sizes na ON shared.id_a = na.doc_id
            JOIN sizes nb ON shared.id_b = nb.doc_id
WHERE greatest(round(CAST(shared AS DOUBLE) / na.n_fp, 6),
               round(CAST(shared AS DOUBLE) / nb.n_fp, 6)) >= {threshold}
"""


@register(
    "neardup_containment",
    _containment_oracle(threshold=0.5, max_df=50, k=5, window=4),
)
def q_neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection: the crawl near-dup shape
    symmetric Jaccard misses — a short doc embedded verbatim in a long
    boilerplate page scores low Jaccard but C(A→B)=|fp∩|/|fp(A)| ≈ 1.

    Runs :func:`dedup.containment_pairs` with md5 winnowing, so the whole
    chain (fingerprints → max_df boilerplate drop → bucketed pair join →
    per-direction ratios) is DuckDB-hash-checked.  Pairs flow only
    through shared-fingerprint buckets, never all-pairs, and the max_df
    drop caps bucket width."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "text", "doc_id", threshold=0.5, k=5, window=4, hash_fn="md5", max_df=50
    )


#: fixed IVF cells for the oracle-checked deterministic form — the unit
#: embeddings of vec_id < _IVF_CELLS act as centroids (the exact move
#: that made SemDeDup's assignment hash-checkable, applied to IVF's
#: nearest-centroid assignment + n_probe cell selection + re-rank)
_IVF_CELLS = 16
_IVF_PROBE = 4
_IVF_QUERIES = 20


def _ivf_oracle() -> str:
    """DuckDB twin of the registered ``vector_ann_topk``: the fixed-cell
    IVF chain twice — once over the float unit vectors (``method='ivf'``,
    sequential-fold dots share the very BITS with Spark's JVM fold) and
    once over the int8-dequantized vectors (``method='ivf_packed'``: the
    codes CTE is the proven ``quantize_codes_sql`` twin, dequantization
    ``lo + c*(hi-lo)/255`` is bit-exact on both engines, and the
    normalize/dot wobble vs the Arrow einsum is absorbed by the round-6
    grids BEFORE every argmax — margins measured in knife_probe.py)."""
    codes_sql = similarity.quantize_codes_sql("SELECT vec_id, embedding FROM embeddings")
    ranked = (
        "SELECT query_id, vec_id, cos_sim, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM {src}"
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
{_UNIT_CTE},
q AS (SELECT vec_id AS query_id, uv AS qv FROM u WHERE vec_id < {_IVF_QUERIES}),
cents AS (SELECT vec_id AS cent_id, uv AS cv FROM u WHERE vec_id < {_IVF_CELLS}),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.query_id, q.qv, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qv, c.cv), 6) DESC, c.cent_id ASC) AS rn
    FROM q, cents c
  ) WHERE rn <= {_IVF_PROBE}
),
asg AS (
  SELECT vec_id, uv, cent_id FROM (
    SELECT u.vec_id, u.uv, c.cent_id,
           row_number() OVER (PARTITION BY u.vec_id
             ORDER BY round(list_dot_product(u.uv, c.cv), 6) DESC, c.cent_id ASC) AS rn
    FROM u, cents c
  ) WHERE rn = 1
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id,
         round(list_dot_product(p.qv, a.uv), 6) AS cos_sim
  FROM asg a JOIN probes p USING (cent_id)
  WHERE a.vec_id <> p.query_id
),
codes AS ({codes_sql}),
ex AS (SELECT generate_subscripts(ve, 1) AS d, unnest(ve) AS x FROM v),
mmtab AS (SELECT d, min(x) AS lo, max(x) AS hi FROM ex GROUP BY d),
mml AS (SELECT list(lo ORDER BY d) AS los FROM mmtab),
mmh AS (SELECT list(hi ORDER BY d) AS his FROM mmtab),
dq AS (
  SELECT c.vec_id,
         list_transform(list_zip(c.codes, range(1, len(c.codes) + 1)),
           p -> mml.los[p[2]] + CAST(p[1] AS DOUBLE)
                * (mmh.his[p[2]] - mml.los[p[2]]) / 255.0) AS xv
  FROM codes c, mml, mmh
),
du AS (SELECT vec_id, {_UNIT.format(v='xv')} AS uv FROM dq),
pasg AS (
  SELECT vec_id, uv, cent_id FROM (
    SELECT d.vec_id, d.uv, c.cent_id,
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY round(list_dot_product(d.uv, c.cv), 6) DESC, c.cent_id ASC) AS rn
    FROM du d, cents c
  ) WHERE rn = 1
),
pscored AS (
  SELECT DISTINCT p.query_id, a.vec_id,
         round(list_dot_product(p.qv, a.uv), 6) AS cos_sim
  FROM pasg a JOIN probes p USING (cent_id)
  WHERE a.vec_id <> p.query_id
)
SELECT 'ivf' AS method, query_id, CAST(rank AS INT) AS rank, vec_id, cos_sim
FROM ({ranked.format(src='scored')}) WHERE rank <= 5
UNION ALL
SELECT 'ivf_packed' AS method, query_id, CAST(rank AS INT) AS rank, vec_id, cos_sim
FROM ({ranked.format(src='pscored')}) WHERE rank <= 5
"""


@register("vector_ann_topk", _ivf_oracle())
def q_vector_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF ANN scale paths, PROMOTED from rows-only to a hash-checked
    oracle (round 8) via fixed centroids — the exact pattern that made
    SemDeDup and md5-plane LSH checkable in round 7:

    - ``ivf``: float IVF with caller-fixed cells (the unit embeddings of
      vec_id < 16) and round-6 assignment/probe grids — assignment,
      n_probe cell selection, and exact re-rank ALL hash-checked (the
      sequential-fold dots share bits with DuckDB's list_dot_product);
    - ``ivf_packed``: the PACKED int8 serving path (the form users run
      at 100 TB: 1 byte/dim through every shuffle, Arrow packed-dot) on
      the same fixed cells — the oracle dequantizes the proven
      quantization codes and walks the identical chain.

    The KMeans-fit forms (``similarity.ivf_topk`` /
    ``ivf_topk_packed`` without ``centroids=``) and the xxhash64 LSH
    path stay callable, pytest-pinned (recall floors,
    full-probe==packed-scan, float-vs-packed agreement); the md5-plane
    LSH ANN is hash-checked inside ``vector_exact_search``.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = emb.where(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        similarity._unit(F.col("embedding")).alias("cv"),
    )
    ivf = similarity.ivf_topk(
        emb, queries, k=5, n_probe=_IVF_PROBE, centroids=cents, assign_round=6
    )
    # staged (r15 opt, guide §2.4): the per-dimension min/max aggregate
    # is consumed by quantize_embeddings AND (twice, via _minmax_row)
    # ivf_topk_packed — left lazy the full-corpus posexplode+aggregate
    # ran three times per collect (plans/r15/vector_ann_topk_before.txt
    # nodes 50/63/108).  One lazy localCheckpoint of the ≤dim-row frame
    # scans the corpus once; rows unchanged by construction.
    mm = similarity.dimension_minmax(emb, vec_col="embedding").localCheckpoint(
        eager=False
    )
    quant = similarity.quantize_embeddings(emb, mm, id_col="vec_id", vec_col="embedding")
    packed = similarity.ivf_topk_packed(
        quant, mm, queries, k=5, n_probe=_IVF_PROBE, centroids=cents, assign_round=6
    )
    return ivf.select(F.lit("ivf").alias("method"), "*").unionAll(
        packed.select(F.lit("ivf_packed").alias("method"), "*")
    )


#: media fixture for the binaryFile ingestion path — a machine-local
#: scratch dir (NOT a hardcoded checkout path), suffixed with the euid
#: so two users on one host never fight over file ownership;
#: write_media_fixture keys idempotency on file CONTENT (atomic
#: replace), so a stale dir from an older parameterization self-heals.
#: DEMO-ONLY side effect: building this query's plan writes the WAV
#: fixture to local scratch so there is something for binaryFile to
#: ingest in a bare container.  A production deployment deletes the
#: fixture call and points read_binary_media at the existing media
#: bucket/volume — plan construction then touches no filesystem.
import os as _os
import tempfile as _tempfile

_MEDIA_FIXTURE_DIR = _os.path.join(
    _tempfile.gettempdir(),
    f"pyspark_dist_explore_media_fixture_wav_{getattr(_os, 'geteuid', lambda: 0)()}",
)
_MEDIA_FIXTURE_IDS = 100


@register("multimodal_pipeline", None)  # decoded-CONTENT columns → rows-only
def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode pipeline's CONTENT-derived columns, per
    doc_id — the genuinely non-SQL-expressible residue (round 8 shrank
    this query: every deterministic feature — payload sizes, resize
    dims, frame counts, sample rates, durations — moved into
    ``multimodal_features``'s hash-checked image_meta/audio_meta
    sections; what remains here requires running the codecs over
    decoded arrays):

    - **image**: BMP decode → nearest-neighbor 8×8 resize →
      ``pixels_hash`` (md5 of the RESIZED RGB bytes);
    - **audio**: real FILE ingestion — WAV files on disk read through
      ``spark.read.format("binaryFile")`` (the way a production media
      bucket arrives), RIFF-decoded, 2× decimated → ``rms``/``peak``
      over the sample array;
    - **dhash** (round 12, X58): the perceptual dHash of the same
      decoded images (:func:`multimodal.image_dhash` — integer-exact
      luma/block-mean/gradient chain, numpy-reference-pinned in
      pytest), the key :func:`dedup.hamming_neardup` bands for
      perceptual image dedup.

    Payload bytes never cross a shuffle (all branches extract
    map-side; only small feature frames join on doc_id).
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _MEDIA_FIXTURE_IDS
    )
    payload = multimodal.attach_image_payload(docs, "doc_id")
    resized = multimodal.resize_images(
        payload, width=8, height=8, decoder=multimodal.decode_bmp
    ).select("doc_id", "pixels_hash")
    dh = multimodal.image_dhash(payload).select("doc_id", "dhash")
    fixture = multimodal.write_media_fixture(
        _MEDIA_FIXTURE_DIR, range(_MEDIA_FIXTURE_IDS), kind="wav"
    )
    audio = multimodal.audio_features(
        multimodal.read_binary_media(spark, fixture + "/*.wav"), every_n=2
    ).select("doc_id", "rms", "peak")
    return resized.join(dh, "doc_id").join(audio, "doc_id")


@register("word2vec_topk", None)  # iterative ML fit → rows-only
def q_word2vec_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 closing query: seeded Word2Vec document vectors feeding the
    exact cosine top-k operator — text → embedding → similarity search,
    the end-to-end semantic-dedup shape.  Fit is seeded (reproducible
    per Spark version); the transform is a map-side lookup join.

    Round 13: fit + search run on the ``doc_id < 600`` sample slice
    (the ``_BPE_CAP``/``_EXACT_CAP`` discipline — embedding-model fits
    are sample-based at any real scale); 600 > the 500-doc sf0.01 gate
    corpus, so the rows-only driver check is unchanged."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    vecs = textstats.word2vec_embeddings(docs, "text", "doc_id")
    queries = vecs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "vec"
    )
    return similarity.exact_topk(
        vecs, queries, k=5, id_col="doc_id", vec_col="vec"
    )


# --------------------------------------------------------------------------
# X5: text analysis
# --------------------------------------------------------------------------


#: X31 Gopher gate bounds at the registry: the paper's 50-word floor and
#: 2-stopword rule assume web pages; the synthetic corpus is ~30 short
#: tokens/doc with a spark-ish vocabulary carrying ONE stopword type, so
#: the published bounds keep nothing (a vacuous gate hash).  20/1 keeps
#: the gate mixed — 367 kept / 133 dropped at sf0.01 with TWO distinct
#: rules firing (word-count floor 43, stopword rule 118).  The ratio
#: rules stay the published constants; the operator defaults stay 50/2.
_GOPHER_MIN_WORDS = 20
_GOPHER_MIN_STOP = 1


def _text_stats_merged_oracle() -> str:
    langs = sorted(textstats.LANG_MARKERS)
    score_exprs = _lang_score_sql()
    return f"""
WITH n AS (
  SELECT doc_id, text, {dedup.NORMALIZE_SQL.format(c='text')} AS norm,
         concat(' ', {dedup.NORMALIZE_SQL.format(c='text')}, ' ') AS p
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(text) AS BIGINT) AS n_chars,
         {dedup.n_tokens_sql("norm")} AS n_tokens,
         CAST(len(regexp_extract_all(text, {sql_str_lit(textstats.TOKEN_RE)})) AS BIGINT) AS n_bpe_tokens,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct,
         round(CAST(len(replace(norm, ' ', '')) AS DOUBLE)
               / greatest({dedup.n_tokens_sql("norm")}, 1), 6)
           AS avg_token_len,
         round({_alpha_ratio_sql('text')}, 6) AS alpha_ratio,
         round({_punct_ratio_sql('text')}, 6) AS punct_ratio,
         {_quality_sql('text')} AS quality,
         {", ".join(f"{score_exprs[lang]} AS score_{lang}" for lang in langs)}
  FROM n
)
SELECT s.doc_id, n_chars, n_tokens, n_bpe_tokens, n_punct, avg_token_len,
       alpha_ratio, punct_ratio, quality,
       {", ".join(f"score_{lang}" for lang in langs)},
       {_lang_pred_case_sql()} AS lang_pred,
       g.gq_n_words, g.gq_word_chars, g.gq_n_hash, g.gq_n_ellipsis,
       g.gq_n_alpha_words,
       g.gq_n_stop, g.gq_n_lines, g.gq_bullet_lines, g.gq_ellipsis_lines,
       g.gq_keep,
       c.n_cls_grams, c.cls_logit_num, c.cls_keep
FROM scored s
JOIN (
{textstats.classifier_sql("SELECT doc_id, text FROM documents")}
) c ON s.doc_id = c.doc_id
JOIN (
{textstats.gopher_sql("SELECT doc_id, text FROM documents", min_words=_GOPHER_MIN_WORDS, min_stop_words=_GOPHER_MIN_STOP)}
) g ON s.doc_id = g.doc_id
"""


@register("text_stats", _text_stats_merged_oracle())
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats, quality signals and language ID
    (:func:`textstats.text_profile_lang`) in one row-local projection
    over one scan: chars/token counts/avg token length, alpha/punct
    ratios, the [0,1] quality score, per-language marker scores and the
    deterministic-argmax ``lang_pred``, plus two gates whose columns are
    all exact integers (ORACLES.md class A):

    - the Gopher/MassiveText rule-set signals and gate (``gq_*``, Rae
      et al. 2021 A1.1), every rule an integer cross-multiplied
      comparison;
    - the md5 hashed n-gram linear-classifier gate ``(n_cls_grams,
      cls_logit_num, cls_keep)``, fastText-shaped model-based quality
      filtering.

    No shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.text_profile_lang(
        docs,
        "text",
        "doc_id",
        classifier=True,
        gopher={"min_words": _GOPHER_MIN_WORDS, "min_stop_words": _GOPHER_MIN_STOP},
    )


#: the registered C4 gate's sentence floor — chosen so the page-level
#: rule MIXES on the md5-punctuated word-salad corpus (272 kept / 228
#: dropped at sf0.01; the injected sentence-mark median is ~33)
_C4_MIN_SENTENCES = 30


def _scrub_repetition_oracle() -> str:
    """DuckDB twin of scrub_text ⋈ repetition_signals: the same ordered
    regexp_replace chain (counts measured on the ORIGINAL text), md5 of
    the scrubbed bytes, :func:`dedup._token_rows_sql` tokens,
    lead-window bigrams."""
    repl = "<redacted>"
    count_cols = ", ".join(
        f"CAST(len(regexp_extract_all(text, {sql_str_lit(pat)})) AS BIGINT) AS n_{kind}"
        for kind, pat in textstats.SCRUB_PATTERNS
    )
    scrubbed = "text"
    for _, pat in textstats.SCRUB_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, {sql_str_lit(pat)}, {sql_str_lit(repl)}, 'g')"
    return f"""
WITH s AS (
  SELECT doc_id, {count_cols}, md5({scrubbed}) AS scrub_hash
  FROM documents
),
t2 AS ({dedup._token_rows_sql("SELECT doc_id, text FROM documents")}),
tok_stats AS (
  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
  FROM t2 GROUP BY doc_id
),
bg AS (
  SELECT doc_id, idx,
         concat_ws(' ', tok, lead(tok, 1) OVER w) AS bg,
         count(*) OVER (PARTITION BY doc_id) AS n_tok
  FROM t2 WINDOW w AS (PARTITION BY doc_id ORDER BY idx)
),
bg_counts AS (
  SELECT doc_id, bg, count(*) AS cnt FROM bg
  WHERE idx <= n_tok - 2 GROUP BY doc_id, bg
),
bg_stats AS (
  SELECT doc_id, max(cnt) AS top_bg, sum(cnt) AS total_bg
  FROM bg_counts GROUP BY doc_id
),
rep AS (
  SELECT ts.doc_id, ts.n_tokens,
         round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
         round(CAST(top_bg AS DOUBLE) / total_bg, 6) AS top_bigram_frac
  FROM tok_stats ts LEFT JOIN bg_stats USING (doc_id)
),
lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         unnest(string_split(text, ' ')) AS line
  FROM documents
),
keyed AS (SELECT doc_id, pos, line, trim(line) AS key FROM lines),
common AS (
  SELECT key FROM keyed WHERE key <> ''
  GROUP BY key HAVING count(DISTINCT doc_id) >= 2
),
kept AS (SELECT k.* FROM keyed k ANTI JOIN common c ON k.key = c.key),
n_all AS (SELECT doc_id, count(*) AS n_all FROM keyed GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text,
         count(*) AS n_lines_kept
  FROM kept GROUP BY doc_id
),
ld AS (
  SELECT n_all.doc_id,
         md5(COALESCE(rebuilt.text, '')) AS line_dedup_hash,
         CAST(COALESCE(n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
         CAST(n_all - COALESCE(n_lines_kept, 0) AS BIGINT) AS n_lines_dropped
  FROM n_all LEFT JOIN rebuilt USING (doc_id)
),
sd AS (
  SELECT doc_id, md5(span_text) AS span_dedup_hash,
         n_tok_kept AS n_span_tok_kept,
         n_tok_dropped AS n_span_tok_dropped,
         n_dup_spans
  FROM ({textstats.drop_duplicate_spans_sql("SELECT doc_id, text FROM documents", k=8, min_count=2)})
),
c4 AS (
  SELECT doc_id, c4_n_lines, c4_n_kept_lines, c4_kept_md5, c4_n_sentences, c4_keep
  FROM ({textstats.c4_sql(textstats.inject_punctuation_sql("SELECT doc_id, text FROM documents"), min_sentences=_C4_MIN_SENTENCES)})
),
il_keyed AS (
  SELECT doc_id, pos, line, trim(line) AS key,
         row_number() OVER (PARTITION BY doc_id, trim(line) ORDER BY pos) AS occ
  FROM (
    SELECT doc_id,
           generate_subscripts(string_split(COALESCE(text, ''), ' '), 1) - 1 AS pos,
           unnest(string_split(COALESCE(text, ''), ' ')) AS line
    FROM documents
  ) z
),
il_kept AS (SELECT * FROM il_keyed WHERE key = '' OR occ = 1),
il AS (
  SELECT k.doc_id,
         md5(COALESCE(string_agg(kp.line, ' ' ORDER BY kp.pos), '')) AS intra_line_hash,
         CAST(count(kp.pos) AS BIGINT) AS n_intra_kept,
         CAST(count(*) - count(kp.pos) AS BIGINT) AS n_intra_dropped
  FROM il_keyed k LEFT JOIN il_kept kp ON k.doc_id = kp.doc_id AND k.pos = kp.pos
  GROUP BY k.doc_id
)
SELECT s.doc_id, n_email, n_url, n_phone, scrub_hash,
       n_tokens, dup_token_frac, top_bigram_frac,
       ld.line_dedup_hash, ld.n_lines_kept, ld.n_lines_dropped,
       sd.span_dedup_hash, sd.n_span_tok_kept, sd.n_span_tok_dropped,
       sd.n_dup_spans,
       c4.c4_n_lines, c4.c4_n_kept_lines, c4.c4_kept_md5,
       c4.c4_n_sentences, c4.c4_keep,
       il.intra_line_hash, il.n_intra_kept, il.n_intra_dropped
FROM s JOIN rep ON s.doc_id = rep.doc_id
JOIN ld ON s.doc_id = ld.doc_id
JOIN sd ON s.doc_id = sd.doc_id
JOIN c4 ON s.doc_id = c4.doc_id
JOIN il ON s.doc_id = il.doc_id
"""


@register_sections("text_scrub_repetition", _scrub_repetition_oracle(), on="doc_id")
def text_scrub_repetition_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Doc-level curation signals, one doc_id-keyed column family per
    section; the slot joins them on ``doc_id`` in dict order.

    - ``scrub``: :func:`textstats.scrub_text` email/URL/phone counts
      plus the md5 of the redacted text, so the transformation itself
      is checked.
    - ``repetition``: :func:`textstats.repetition_signals` (dup-token
      and top-bigram fractions).
    - ``line_dedup``: :func:`textstats.drop_repeated_lines` at
      ``sep=' '``, ``min_df=2`` — md5 of the rebuilt text and
      kept/dropped line counts.
    - ``span_dedup``: :func:`textstats.drop_duplicate_spans` — 8-token
      grams duplicated ≥2× corpus-wide are removed; md5 of the rebuild
      plus kept/dropped token and duplicated-window counts.  The gram
      frame is staged (lazy ``localCheckpoint``) because the duplicate
      aggregate and the occurrence probe both read it.
    - ``c4``: :func:`textstats.c4_clean` over the
      :func:`textstats.inject_punctuation` corpus (the synthetic docs
      carry no punctuation) with ``min_sentences=_C4_MIN_SENTENCES``.
    - ``intra_line``: :func:`textstats.dedup_lines_within_doc` at
      ``sep=' '`` — md5 of the rebuilt text and kept/dropped counts.

    Each family is independently collectable, so per-section times sum
    to more than the slot: each pays its own documents scan where the
    joined slot shares one."""
    docs = load_table(spark, sf_dir, "documents")
    scrub = textstats.scrub_text(docs, "text", "doc_id").select(
        "doc_id", "n_email", "n_url", "n_phone", F.md5("scrubbed").alias("scrub_hash")
    )
    rep = textstats.repetition_signals(docs, "text", "doc_id")
    ld = textstats.drop_repeated_lines(docs, "text", "doc_id", min_df=2, sep=" ").select(
        "doc_id",
        F.md5("text").alias("line_dedup_hash"),
        "n_lines_kept",
        "n_lines_dropped",
    )
    grams = textstats.span_grams(docs, "text", "doc_id", k=8).localCheckpoint(
        eager=False
    )
    sd = textstats.drop_duplicate_spans(
        docs, "text", "doc_id", k=8, min_count=2, gram_rows=grams
    ).select(
        "doc_id",
        F.md5("text").alias("span_dedup_hash"),
        F.col("n_tok_kept").alias("n_span_tok_kept"),
        F.col("n_tok_dropped").alias("n_span_tok_dropped"),
        "n_dup_spans",
    )
    # the md5 verifies WHICH lines the line-level rules retained, in order
    inj = docs.select(
        "doc_id", textstats.inject_punctuation(F.col("text")).alias("text")
    )
    c4 = textstats.c4_clean(
        inj, "text", "doc_id", min_sentences=_C4_MIN_SENTENCES
    ).select(
        "doc_id", "c4_n_lines", "c4_n_kept_lines", "c4_kept_md5",
        "c4_n_sentences", "c4_keep",
    )
    idl = textstats.dedup_lines_within_doc(
        docs, "text", "doc_id", sep=" "
    ).select(
        "doc_id",
        F.md5("text").alias("intra_line_hash"),
        F.col("n_lines_kept").alias("n_intra_kept"),
        F.col("n_lines_dropped").alias("n_intra_dropped"),
    )
    return {
        "scrub": scrub,
        "repetition": rep,
        "line_dedup": ld,
        "span_dedup": sd,
        "c4": c4,
        "intra_line": idl,
    }


# --------------------------------------------------------------------------
# X5 second half: text vectorization (term frequencies + TF-IDF)
# --------------------------------------------------------------------------


@register(
    "text_tfidf",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({dedup.NORMALIZE_SQL.format(c='text')}, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
       round(tf.tf * (ln((n_docs + 1.0) / (df_t + 1.0)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq ON tf.term = dfreq.term, n
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF weights (idf = ln((N+1)/(df+1)) + 1), rounded to 6
    — ln is within-ulp across engines, absorbed by the rounding grid."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.tfidf(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# X6: multimodal plumbing — binary payload + Arrow-batched feature extract
# --------------------------------------------------------------------------


#: expected image payload size, computed from FIRST PRINCIPLES at
#: registration (not read back from the codec under test): 3 concatenated
#: 24-bit BMPs of the 16×12 default — the oracle literal the Spark side's
#: REAL generated payload size must hash-match
_IMG_W, _IMG_H, _IMG_FRAMES = 16, 12, 3
_IMG_ROW_BYTES = (_IMG_W * 3 + 3) & ~3  # 4-byte-aligned BMP row stride
_IMG_PAYLOAD_BYTES = (54 + _IMG_H * _IMG_ROW_BYTES) * _IMG_FRAMES
_RESIZE_W = _RESIZE_H = 8
#: audio expectations for the 4000-sample / 8000 Hz fixture decimated 2×
_AUD_N, _AUD_RATE, _AUD_STEP = 4000, 8000, 2
_AUD_DECIMATED = -(-_AUD_N // _AUD_STEP)  # ceil: samples[::step] length
_AUD_META = f"{_AUD_RATE // _AUD_STEP}:{int(_AUD_N / _AUD_RATE * 1000)}"
_IMG_META = f"{_RESIZE_W}:{_RESIZE_H}:{_IMG_FRAMES}"


_MULTIMODAL_FEATURES_ORACLE = f"""
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash,
       'text' AS modality
FROM documents
UNION ALL
SELECT doc_id, CAST({_IMG_PAYLOAD_BYTES} AS BIGINT), '{_IMG_META}', 'image_meta'
FROM documents
UNION ALL
SELECT doc_id, CAST({_AUD_DECIMATED} AS BIGINT), '{_AUD_META}', 'audio_meta'
FROM documents
"""


@register("multimodal_features", _MULTIMODAL_FEATURES_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing and the deterministic half of the decode
    pipeline, one ``modality`` tag per row family:

    - ``text`` rows: encode → mapInPandas (Arrow) feature extract; the
      md5-over-bytes in Python must equal DuckDB's md5 over the same
      UTF-8 bytes.
    - ``image_meta`` rows: the BMP pipeline runs (generate 3-frame clips
      → decode → 8×8 resize → frame-sample fan-out) and emits payload
      byte size, resize dims and counted frames, which must match
      literals the oracle derives from the BMP format spec (54-byte
      header + 4-aligned row stride), not from the codec under test.
      The generated payload frame is staged (lazy ``localCheckpoint``)
      because its three consumers would each re-run the generation.
    - ``audio_meta`` rows: the WAV decode runs (RIFF parse → 2×
      decimate) and its sample rate, decimated sample count and
      duration must match the fixture arithmetic.

    Content-derived values (pixel/rms/peak hashes of decoded arrays)
    stay rows-only in ``multimodal_pipeline``."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_binary_payload(docs, "text", "doc_id")
    text_rows = multimodal.extract_features(payload)

    img = multimodal.attach_image_payload(
        docs, "doc_id", width=_IMG_W, height=_IMG_H, n_frames=_IMG_FRAMES
    )
    img = img.localCheckpoint(eager=False)
    resized = multimodal.resize_images(
        img, width=_RESIZE_W, height=_RESIZE_H, decoder=multimodal.decode_bmp
    )
    nframes = (
        multimodal.sample_frames(img)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    img_meta = (
        img.select("doc_id", F.col("meta.size").alias("n_bytes"))
        .join(resized.select("doc_id", "width", "height"), "doc_id")
        .join(nframes, "doc_id")
        .select(
            "doc_id",
            F.col("n_bytes").cast("bigint").alias("n_bytes"),
            F.concat_ws(":", "width", "height", "n_frames").alias("content_hash"),
            F.lit("image_meta").alias("modality"),
        )
    )
    aud = multimodal.attach_audio_payload(
        docs, "doc_id", n_samples=_AUD_N, sample_rate=_AUD_RATE
    )
    audio_meta = multimodal.audio_features(aud, every_n=_AUD_STEP).select(
        "doc_id",
        F.col("n_samples").cast("bigint").alias("n_bytes"),
        F.concat_ws(
            ":",
            F.col("sample_rate"),
            (F.col("duration_s") * 1000).cast("bigint"),
        ).alias("content_hash"),
        F.lit("audio_meta").alias("modality"),
    )
    return text_rows.unionByName(img_meta).unionByName(audio_meta)


# --------------------------------------------------------------------------
# Round-6 promotions: the pytest-twin families earn driver-gate rows
# (X15 quantization codes, X17 per-group drift, X18 perplexity incl. the
# bigram upgrade, X19 line-level dedup rides text_scrub_repetition,
# X20 corpus profile, plus the new Unicode normalization operator).
# --------------------------------------------------------------------------


#: X25 vocab size for the registered OOV section: the synthetic corpus
#: has ~31 token types, so 16 leaves a real OOV tail at every SF while
#: still exercising the (cnt DESC, tok ASC) tie-broken top-V induction.
_VOCAB_SIZE = 16

#: X38 funnel's min-length gate (the simplest real pipeline gate) —
#: ≥40 normalized tokens keeps 331/500 at sf0.01, so all three funnel
#: gates are MIXED (Gopher 20/1 keeps 367, the classifier keeps 133)
_FUNNEL_MIN_TOKENS = 40


@register(
    "corpus_profile",
    f"""
WITH scored AS (
  SELECT COALESCE(CAST(source AS VARCHAR), '') AS "group",
         {dedup.n_tokens_sql(dedup.NORMALIZE_SQL.format(c="COALESCE(text, '')"))} AS tok,
         CAST(round({_quality_sql("COALESCE(text, '')")} * 1e6) AS BIGINT) AS q6,
         md5({dedup.NORMALIZE_SQL.format(c="COALESCE(text, '')")}) AS fp,
         CASE WHEN {dedup.NORMALIZE_SQL.format(c="COALESCE(text, '')")} = '' THEN 1 ELSE 0 END AS empty
  FROM documents
),
prof AS (
SELECT "group",
       count(*) AS n_docs,
       CAST(sum(empty) AS BIGINT) AS n_empty,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       round(CAST(sum(tok) AS DOUBLE) / count(*), 6) AS avg_tokens,
       round(CAST(sum(q6) AS DOUBLE) / 1e6 / count(*), 6) AS avg_quality,
       count(DISTINCT fp) AS n_unique,
       round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_frac
FROM scored GROUP BY "group"
),
vo AS ({textstats.vocabulary_oov_sql("SELECT source, text FROM documents", "source", _VOCAB_SIZE)}),
fn_flags AS (
  SELECT COALESCE(CAST(d.source AS VARCHAR), '') AS "group",
         CASE WHEN g.gq_n_words >= {_FUNNEL_MIN_TOKENS} THEN 1 ELSE 0 END AS len_keep,
         g.gq_keep, c.cls_keep,
         COALESCE(g.gq_n_words, 0) AS n_tok
  FROM documents d
  JOIN ({textstats.gopher_sql("SELECT doc_id, text FROM documents", min_words=_GOPHER_MIN_WORDS, min_stop_words=_GOPHER_MIN_STOP)}) g
    ON d.doc_id = g.doc_id
  JOIN ({textstats.classifier_sql("SELECT doc_id, text FROM documents", bigrams=False)}) c
    ON d.doc_id = c.doc_id
),
fn AS (
  SELECT "group",
         CAST(SUM(1 - len_keep) AS BIGINT) AS len_keep_fail,
         CAST(SUM((1 - len_keep) * gq_keep * cls_keep) AS BIGINT) AS len_keep_fail_only,
         CAST(SUM(1 - gq_keep) AS BIGINT) AS gq_keep_fail,
         CAST(SUM((1 - gq_keep) * len_keep * cls_keep) AS BIGINT) AS gq_keep_fail_only,
         CAST(SUM(1 - cls_keep) AS BIGINT) AS cls_keep_fail,
         CAST(SUM((1 - cls_keep) * len_keep * gq_keep) AS BIGINT) AS cls_keep_fail_only,
         CAST(SUM(len_keep * gq_keep * cls_keep) AS BIGINT) AS n_survivors,
         CAST(SUM(n_tok) AS BIGINT) AS funnel_tokens,
         CAST(SUM((1 - len_keep) * n_tok) AS BIGINT) AS len_keep_fail_tokens,
         CAST(SUM((1 - len_keep) * gq_keep * cls_keep * n_tok) AS BIGINT) AS len_keep_fail_only_tokens,
         CAST(SUM((1 - gq_keep) * n_tok) AS BIGINT) AS gq_keep_fail_tokens,
         CAST(SUM((1 - gq_keep) * len_keep * cls_keep * n_tok) AS BIGINT) AS gq_keep_fail_only_tokens,
         CAST(SUM((1 - cls_keep) * n_tok) AS BIGINT) AS cls_keep_fail_tokens,
         CAST(SUM((1 - cls_keep) * len_keep * gq_keep * n_tok) AS BIGINT) AS cls_keep_fail_only_tokens,
         CAST(SUM(len_keep * gq_keep * cls_keep * n_tok) AS BIGINT) AS survivor_tokens
  FROM fn_flags GROUP BY "group"
)
SELECT prof.*,
       CAST(COALESCE(vo.in_vocab_tokens, 0) AS BIGINT) AS in_vocab_tokens,
       CAST(COALESCE(vo.oov_tokens, 0) AS BIGINT) AS oov_tokens,
       fn.len_keep_fail, fn.len_keep_fail_only,
       fn.gq_keep_fail, fn.gq_keep_fail_only,
       fn.cls_keep_fail, fn.cls_keep_fail_only,
       fn.n_survivors,
       fn.funnel_tokens,
       fn.len_keep_fail_tokens, fn.len_keep_fail_only_tokens,
       fn.gq_keep_fail_tokens, fn.gq_keep_fail_only_tokens,
       fn.cls_keep_fail_tokens, fn.cls_keep_fail_only_tokens,
       fn.survivor_tokens
FROM prof LEFT JOIN vo ON prof."group" = vo."group"
JOIN fn ON prof."group" = fn."group"
""",
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20: the one-scan corpus EDA card per source, joined with two
    more per-source cards.

    - Profile (:func:`textstats.corpus_profile`): docs, empties, token
      totals, the 1e-6 fixed-point quality mean and the exact-dup
      fraction from md5 content fingerprints; NULL text profiles as an
      empty doc.
    - X25 vocabulary coverage: in-vocab/OOV token counts against the
      top-16 tie-broken induced vocabulary, which is broadcast into the
      coverage join.
    - X38 curation funnel (:func:`pipeline.curation_funnel`): per-gate
      fail / fail-only / survivor counts for a min-length + Gopher
      (:func:`textstats.with_gopher_gate`) + unigram md5 classifier
      conjunction, plus the same counts weighted by ``gq_n_words``
      tokens.  All flags come from row-local staged projections and
      feed one group-sized aggregate; every column is an exact BIGINT.
    """
    from pyspark_dist_explore_spark.pipeline import curation_funnel

    docs = load_table(spark, sf_dir, "documents")
    prof = textstats.corpus_profile(docs, "text", "doc_id", group_col="source")
    vocab = textstats.vocabulary(docs, "text", size=_VOCAB_SIZE)
    oov = textstats.oov_stats(docs, "text", "source", vocab)
    raw = docs.select(F.col("source").alias("grp"), F.col("text").alias("__raw"))
    gq = textstats.with_gopher_gate(
        raw,
        F.col("__raw"),
        min_words=_GOPHER_MIN_WORDS,
        min_stop_words=_GOPHER_MIN_STOP,
    )
    # both gates run as staged once-per-row projections; the funnel's
    # classifier flag is the unigram-only md5 form, which does half the
    # md5-per-gram work of the uni+bigram chain text_stats checks
    sig = textstats.with_classifier_gate(
        gq, F.col("__raw"), hash_fn="md5", bigrams=False
    )
    flags = sig.select(
        "grp",
        (F.col("gq_n_words") >= _FUNNEL_MIN_TOKENS).cast("int").alias("len_keep"),
        "gq_keep",
        "cls_keep",
        F.col("gq_n_words").alias("n_tok"),
    )
    # token_col adds the token-weighted mirror on the same aggregate:
    # gq_n_words summed per fail/fail-only bucket, exact BIGINTs
    funnel = (
        curation_funnel(
            flags,
            ["len_keep", "gq_keep", "cls_keep"],
            group_col="grp",
            token_col="n_tok",
        )
        .drop("n_docs")
        .withColumnRenamed("n_tokens", "funnel_tokens")
    )
    return (
        prof.join(oov, "group", "left")
        .join(funnel, "group")
        .select(
            prof["*"],
            F.coalesce(F.col("in_vocab_tokens"), F.lit(0)).cast("bigint").alias("in_vocab_tokens"),
            F.coalesce(F.col("oov_tokens"), F.lit(0)).cast("bigint").alias("oov_tokens"),
            "len_keep_fail", "len_keep_fail_only",
            "gq_keep_fail", "gq_keep_fail_only",
            "cls_keep_fail", "cls_keep_fail_only",
            "n_survivors",
            "funnel_tokens",
            "len_keep_fail_tokens", "len_keep_fail_only_tokens",
            "gq_keep_fail_tokens", "gq_keep_fail_only_tokens",
            "cls_keep_fail_tokens", "cls_keep_fail_only_tokens",
            "survivor_tokens",
        )
    )


def _drift_groups_oracle() -> str:
    from pyspark_dist_explore_spark.functions.numeric import bucket_sql

    bucket = bucket_sql("v", "__lo", "__hi", 8)
    return f"""
WITH u0 AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '') AS grp, CAST(n_chars AS DOUBLE) AS v
  FROM documents
  UNION ALL
  SELECT COALESCE(CAST(lang AS VARCHAR), '') AS grp, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
),
present AS (SELECT DISTINCT grp FROM u0),
u AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '') AS grp, CAST(n_chars AS DOUBLE) AS v, 'ref' AS src
  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
  UNION ALL
  SELECT COALESCE(CAST(lang AS VARCHAR), '') AS grp, CAST(n_chars AS DOUBLE) AS v, 'cur' AS src
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
    AND n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
),
mm AS (SELECT grp, min(v) AS __lo, max(v) AS __hi FROM u GROUP BY grp),
b AS (
  SELECT u.grp, u.src, {bucket} AS bucket
  FROM u JOIN mm ON u.grp = mm.grp
),
cells AS (
  SELECT grp, bucket,
         sum(CASE WHEN src = 'ref' THEN 1 ELSE 0 END) AS ref_cnt,
         sum(CASE WHEN src = 'cur' THEN 1 ELSE 0 END) AS cur_cnt
  FROM b GROUP BY grp, bucket
),
tot AS (SELECT grp, sum(ref_cnt) AS tr, sum(cur_cnt) AS tc FROM cells GROUP BY grp),
scored AS (
  SELECT cells.grp,
         CAST(sum(ref_cnt) AS BIGINT) AS n_ref,
         CAST(sum(cur_cnt) AS BIGINT) AS n_cur,
         round(sum(
           (greatest(CASE WHEN tr > 0 THEN ref_cnt / tr ELSE 0.0 END, 1e-06)
            - greatest(CASE WHEN tc > 0 THEN cur_cnt / tc ELSE 0.0 END, 1e-06))
           * ln(greatest(CASE WHEN tr > 0 THEN ref_cnt / tr ELSE 0.0 END, 1e-06)
                / greatest(CASE WHEN tc > 0 THEN cur_cnt / tc ELSE 0.0 END, 1e-06))
         ), 10) AS psi
  FROM cells JOIN tot ON cells.grp = tot.grp
  GROUP BY cells.grp
)
SELECT present.grp AS "group",
       COALESCE(n_ref, 0) AS n_ref,
       COALESCE(n_cur, 0) AS n_cur,
       COALESCE(psi, 0.0) AS psi
FROM present LEFT JOIN scored ON present.grp = scored.grp
"""


@register("histogram_drift_groups", _drift_groups_oracle())
def q_histogram_drift_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 at the driver gate (promoted round 6): WHICH groups drifted —
    per-language PSI between the whole corpus and the src0-2 slice
    (per-group shared-range bins, eps-clamped ratios, presence taken
    before the validity filter so all-NULL groups still report).  The
    per-corpus bucket-level form (``stats.histogram_drift``) shares the
    identical PSI arithmetic and stays twin-pinned in pytest; the
    streaming per-window scorer reuses it micro-batch-side."""
    from pyspark_dist_explore_spark.operators import stats as stats_ops

    docs = load_table(spark, sf_dir, "documents")
    cur = docs.where(F.col("source").isin("src0", "src1", "src2"))
    return stats_ops.histogram_drift_by_group(docs, cur, "n_chars", "lang", bins=8)


#: DSIR feature-space size for the gate section (the paper operates at
#: 10⁴-ish hashed buckets; 2¹² keeps the count tables driver-trivial)
_DSIR_BUCKETS = 1 << 12


def _perplexity_oracle() -> str:
    """Transcendental-free gate oracle for ``text_perplexity``.

    It hashes ONLY exact integer LM statistics.  ``ln``/``exp`` may
    differ in the last ULP across libm/DuckDB builds and flip a
    fixed-point rounding edge, so the ln/exp-derived score columns are
    left out.  The integer statistics pin tokenization, both LM training
    aggregates, and every scoring join bit-for-bit on any engine build;
    the exact double `mean_logprob`/`ppl` surfaces stay pinned in the
    pytest DuckDB twins (controlled engine pair,
    tests/test_ops.py::test_{unigram,bigram}_logprob_matches_duckdb).

    The DSIR section (X30, operators/dsir.py): per-doc hashed uni+bigram
    bucket statistics against a target slice (doc_id % 10 = 0 — the
    semantic-decontam eval-slice convention) and the raw corpus —
    ``ds_grams``/``ds_t_mass``/``ds_t_hits``/``ds_r_mass`` are exact
    BIGINTs that pin the gram build, the md5 bucket chain
    (``textstats._cls_bucket_sql``), and BOTH corpus count tables on any
    engine build; the ln-derived importance weights (class C) stay in
    the pytest twins (tests/test_ops.py::test_dsir_*).

    The X54 KNESER-NEY columns come off the same pair frame:
    ``kn_cont_mass``/``kn_fert_mass``/``kn_ctx_mass`` — per-doc sums of
    the continuation (N1+(·w)), fertility (N1+(u·)) and bigram context
    totals (c(u·)) that KN smoothing is built from — exact BIGINTs
    pinning all three distinct-count aggregates; the discounted
    probabilities stay in the pytest twin
    (tests/test_ops.py::test_kn_bigram_*).
    """
    b = textstats._cls_bucket_sql("g", _DSIR_BUCKETS)
    return f"""
WITH t2 AS ({dedup._token_rows_sql("SELECT doc_id, text FROM documents")}),
tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM t2 GROUP BY 1, 2),
uni AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
ustat AS (
  SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_tok,
         CAST(count(*) AS BIGINT) AS u_terms,
         CAST(sum(tf.tf * COALESCE(uni.cnt, 0)) AS BIGINT) AS u_mass
  FROM tf LEFT JOIN uni ON tf.term = uni.term
  GROUP BY tf.doc_id
),
pairs AS (
  SELECT doc_id, idx, tok, lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
  FROM t2
),
bi AS (
  SELECT prev, tok AS term, count(*) AS bcnt FROM pairs
  WHERE prev IS NOT NULL GROUP BY prev, tok
),
bstat AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_scored,
         CAST(sum(COALESCE(b.bcnt, 0)) AS BIGINT) AS b_hits,
         CAST(sum(CASE WHEN b.bcnt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS b_matched,
         CAST(sum(COALESCE(cx.cnt, 0)) AS BIGINT) AS ctx_mass
  FROM pairs p
  LEFT JOIN uni cx ON p.prev = cx.term
  LEFT JOIN bi b ON p.prev = b.prev AND p.tok = b.term
  GROUP BY p.doc_id
),
ds_g AS (
  SELECT doc_id, tok AS g FROM t2
  UNION ALL
  SELECT doc_id, prev || ' ' || tok AS g FROM pairs WHERE prev IS NOT NULL
),
ds_b AS (SELECT doc_id, {b} AS bucket FROM ds_g),
ds_t AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM ds_b
         WHERE doc_id % 10 = 0 GROUP BY bucket),
ds_r AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM ds_b GROUP BY bucket),
dstat AS (
  SELECT ds_b.doc_id,
         CAST(count(*) AS BIGINT) AS ds_grams,
         CAST(sum(COALESCE(t.cnt, 0)) AS BIGINT) AS ds_t_mass,
         CAST(sum(CASE WHEN t.cnt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ds_t_hits,
         CAST(sum(r.cnt) AS BIGINT) AS ds_r_mass
  FROM ds_b
  LEFT JOIN ds_t t USING (bucket)
  JOIN ds_r r USING (bucket)
  GROUP BY ds_b.doc_id
),
kn_fert AS (SELECT prev, count(*) AS nf, sum(bcnt) AS ctx FROM bi GROUP BY prev),
kn_cont AS (SELECT term, count(*) AS nc FROM bi GROUP BY term),
kstat AS (
  SELECT p.doc_id,
         CAST(sum(COALESCE(c.nc, 0)) AS BIGINT) AS kn_cont_mass,
         CAST(sum(CASE WHEN p.prev IS NOT NULL THEN COALESCE(f.nf, 0) ELSE 0 END) AS BIGINT) AS kn_fert_mass,
         CAST(sum(CASE WHEN p.prev IS NOT NULL THEN COALESCE(f.ctx, 0) ELSE 0 END) AS BIGINT) AS kn_ctx_mass
  FROM pairs p
  LEFT JOIN kn_cont c ON p.tok = c.term
  LEFT JOIN kn_fert f ON p.prev = f.prev
  GROUP BY p.doc_id
)
SELECT ustat.doc_id, n_tok, u_terms, u_mass, n_scored, b_hits, b_matched, ctx_mass,
       ds_grams, ds_t_mass, ds_t_hits, ds_r_mass,
       kn_cont_mass, kn_fert_mass, kn_ctx_mass
FROM ustat
JOIN bstat ON ustat.doc_id = bstat.doc_id
JOIN dstat ON ustat.doc_id = dstat.doc_id
JOIN kstat ON ustat.doc_id = kstat.doc_id
"""


@register_sections("text_perplexity", _perplexity_oracle(), on="doc_id")
def text_perplexity_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Per-doc language-model statistics, one doc_id-keyed family per
    section; the slot joins them on ``doc_id`` in dict order.  Every
    column is an exact BIGINT from the scorers' ``count_stats=True``
    aggregates, so tokenization, LM training counts and every scoring
    join are hash-checked without ln/exp-derived doubles (the
    ``mean_logprob``/``ppl`` outputs are DuckDB-twin-pinned in pytest).

    - ``unigram``: :func:`textstats.unigram_logprob_scores`, the Laplace
      unigram LM.
    - ``bigram``: :func:`textstats.bigram_logprob_scores`, the
      interpolated bigram LM.
    - ``dsir``: :func:`dsir_scores` importance statistics with the
      doc_id % 10 = 0 slice as target and the whole corpus as raw.
    - ``kn``: :func:`textstats.kn_bigram_logprob_scores`
      continuation/fertility/context-total masses.

    The tokenize + lag-window pair frame is built once and staged (lazy
    ``localCheckpoint``); all four families read it (``tf_rows=``,
    ``pairs_rows=``, and the DSIR uni+bigram gram stream), so the slot
    scans the corpus once instead of once per LM subtree."""
    from pyspark_dist_explore_spark.operators.dsir import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    # the staged frame tokenizes exactly like the scorers' lazy paths
    _, pairs = textstats._bigram_pairs(docs, "text", "doc_id")
    pairs = pairs.localCheckpoint(eager=False)
    tf = pairs.groupBy("doc_id", F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    # DSIR gram stream from the checkpointed pairs: every token is a
    # unigram row; adjacent pairs are the bigram rows — identical
    # strings to dsir_gram_rows' row-local build
    gram_rows = pairs.select("doc_id", F.col("tok").alias("gram")).unionByName(
        pairs.where(F.col("prev").isNotNull()).select(
            "doc_id", F.concat_ws(" ", "prev", "tok").alias("gram")
        )
    )
    uni = textstats.unigram_logprob_scores(
        docs, "text", "doc_id", tf_rows=tf, count_stats=True
    ).select("doc_id", "n_tok", "u_terms", "u_mass")
    bi = textstats.bigram_logprob_scores(
        docs, "text", "doc_id", pairs_rows=pairs, count_stats=True
    ).select(
        "doc_id",
        F.col("n_tok").alias("n_scored"),
        "b_hits",
        "b_matched",
        "ctx_mass",
    )
    # (One conditional aggregate building both DSIR count tables was
    # measured slower: the checkpoint action costs more than the lazy
    # second aggregate over an already-checkpointed local frame.)
    ds = dsir_scores(
        gram_rows=gram_rows,
        target_gram_rows=gram_rows.where(F.col("doc_id") % 10 == 0),
        n_buckets=_DSIR_BUCKETS,
        hash_fn="md5",
        count_stats=True,
    ).select(
        "doc_id",
        F.col("n_ds_grams").alias("ds_grams"),
        "ds_t_mass",
        "ds_t_hits",
        "ds_r_mass",
    )
    kn = textstats.kn_bigram_logprob_scores(
        docs, "text", "doc_id", pairs_rows=pairs, count_stats=True
    ).select("doc_id", "kn_cont_mass", "kn_fert_mass", "kn_ctx_mass")
    return {"unigram": uni, "bigram": bi, "dsir": ds, "kn": kn}


#: X47 fixed domain cells for the oracle-checked assignment: the unit
#: embeddings of vec_id < _DOMAIN_CELLS act as domain centroids — the
#: _SEMDEDUP_CELLS move, sized to 8 so the per-domain profile card has
#: a real spread of doc counts and token sums at the gate SF
_DOMAIN_CELLS = 8

#: X64 PQ gate config: 8 subspaces over the testdata generator's fixed
#: 64-dim embeddings (the oracle's list_slice twin needs the literal
#: dim; the Spark side asserts divisibility at runtime), 16 sample
#: codebook entries (subvectors of vec_id < 16 — the fixed-centroid
#: move), ADC top-5 for the first 3 query ids
_PQ_M = 8
_PQ_DIM = 64
_PQ_CODES = 16

#: X66 IVF-PQ gate config (round 14): 8 coarse cells, 4-probe — the
#: centroids are the RAW grid vectors of vec_id < 8 (unnormalized, so
#: every coarse dot is an exact integer and the whole composition —
#: assignment, probes, candidate join, ADC ranking — is class A with
#: no rounding anywhere); the unit-centroid/kmeans library defaults
#: stay pytest-pinned
_IVFPQ_CENTS = 8
_IVFPQ_PROBE = 4

_PQ_GRID_SRC = (
    "SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> round(x * 1000000)) AS embedding FROM embeddings"
)


@register_sections(
    "embedding_quantize",
    f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
{_UNIT_CTE},
codes AS ({similarity.quantize_codes_sql("SELECT vec_id, embedding FROM embeddings")}),
dom_cents AS (SELECT vec_id AS cent_id, uv AS cv FROM u WHERE vec_id < {_DOMAIN_CELLS}),
dom_asg AS (
  SELECT vec_id, cent_id AS dom, sim6 FROM (
    SELECT u.vec_id, c.cent_id,
           round(list_dot_product(u.uv, c.cv), 6) AS sim6,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_dot_product(u.uv, c.cv), 6) DESC, c.cent_id ASC
           ) AS rn
    FROM u, dom_cents c
  ) WHERE rn = 1
)
SELECT 'codes' AS section, vec_id, array_to_string(codes, ',') AS codes_csv,
       CAST(len(codes) AS INT) AS n_dims
FROM codes
UNION ALL
SELECT 'pooled' AS section, label AS vec_id, codes_csv, n_dims
FROM (
  WITH pexp AS (
    SELECT CAST(label AS BIGINT) AS label,
           generate_subscripts(embedding, 1) - 1 AS pos,
           round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS x
    FROM embeddings
    WHERE embedding IS NOT NULL
  ),
  pagg AS (
    SELECT label, pos, sum(x) AS sv, count(*) AS n
    FROM pexp GROUP BY label, pos
  )
  SELECT label,
         string_agg(CAST(CAST(round(sv / n) AS BIGINT) AS VARCHAR), ','
                    ORDER BY pos) AS codes_csv,
         CAST(max(n) AS INT) AS n_dims
  FROM pagg GROUP BY label
) pooled
UNION ALL
SELECT 'rp' AS section, vec_id,
       array_to_string(list_transform(
         {similarity.random_projection_sql(
             "list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000))",
             8,
             scale=False,
         )}, x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS codes_csv,
       CAST(8 AS INT) AS n_dims
FROM embeddings
UNION ALL
SELECT 'domain' AS section, vec_id, CAST(dom AS VARCHAR) AS codes_csv,
       CAST(dom AS INT) AS n_dims
FROM dom_asg
UNION ALL
SELECT 'proto' AS section, vec_id,
       CAST(CAST(round(sim6 * 1000000) AS BIGINT) AS VARCHAR) AS codes_csv,
       CAST(dom AS INT) AS n_dims
FROM dom_asg
UNION ALL
SELECT 'domain_profile' AS section, dom AS vec_id,
       concat(CAST(n_docs AS VARCHAR), ',', CAST(n_tokens AS VARCHAR)) AS codes_csv,
       CAST(n_docs AS INT) AS n_dims
FROM (
  SELECT dom, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM dom_asg
  JOIN (SELECT doc_id, {_MIX_NTOK} AS n_tok FROM documents) d
    ON d.doc_id = dom_asg.vec_id
  GROUP BY dom
)
UNION ALL
SELECT 'pq' AS section, vec_id, codes_csv, CAST({_PQ_M} AS INT) AS n_dims
FROM ({similarity.pq_codes_sql(_PQ_GRID_SRC, m=_PQ_M, dim=_PQ_DIM, n_codes=_PQ_CODES)})
UNION ALL
SELECT 'pq_adc' AS section, query_id AS vec_id,
       string_agg(concat(CAST(vec_id AS VARCHAR), ':',
                         CAST(CAST(score AS BIGINT) AS VARCHAR)),
                  ',' ORDER BY rank) AS codes_csv,
       CAST(count(*) AS INT) AS n_dims
FROM ({similarity.pq_adc_sql(_PQ_GRID_SRC, m=_PQ_M, dim=_PQ_DIM, n_codes=_PQ_CODES, k=5, n_queries=3)})
GROUP BY query_id
UNION ALL
SELECT 'ivf_pq' AS section, query_id AS vec_id,
       string_agg(concat(CAST(vec_id AS VARCHAR), ':',
                         CAST(CAST(score AS BIGINT) AS VARCHAR)),
                  ',' ORDER BY rank) AS codes_csv,
       CAST(count(*) AS INT) AS n_dims
FROM ({similarity.ivf_pq_sql(_PQ_GRID_SRC, m=_PQ_M, dim=_PQ_DIM, n_codes=_PQ_CODES, n_centroids=_IVFPQ_CENTS, n_probe=_IVFPQ_PROBE, k=5, n_queries=3)})
GROUP BY query_id
UNION ALL
SELECT 'ivf_pq_res' AS section, query_id AS vec_id,
       string_agg(concat(CAST(vec_id AS VARCHAR), ':',
                         CAST(CAST(score AS BIGINT) AS VARCHAR)),
                  ',' ORDER BY rank) AS codes_csv,
       CAST(count(*) AS INT) AS n_dims
FROM ({similarity.ivf_pq_residual_sql(_PQ_GRID_SRC, m=_PQ_M, dim=_PQ_DIM, n_codes=_PQ_CODES, n_centroids=_IVFPQ_CENTS, n_probe=_IVFPQ_PROBE, k=5, n_queries=3)})
GROUP BY query_id
""",
)
def embedding_quantize_sections(
    spark: SparkSession, sf_dir: str
) -> "dict[str, DataFrame]":
    """Embedding compression and clustering, one section per
    ``section`` tag, all in the ``(section, vec_id, codes_csv, n_dims)``
    schema.  Most sections discretize inputs to the 1e-6 grid first
    (``round(x·10⁶)``, exact integers in doubles), so sums, dots and
    squared-L2 distances are exact and order-independent on both
    engines.

    - ``codes``: :func:`similarity.quantize_embeddings` affine int8
      codes (minmax fit, scale, half-up round) as a csv per vector.
    - ``pooled``: :func:`similarity.mean_pool_embeddings` per ``label``
      group on the grid; ``vec_id`` carries the label and ``n_dims``
      the pooled count.
    - ``rp``: :func:`similarity.random_projection` to 8 dims with md5
      ±1 signs, unscaled (exact integer sums).
    - ``domain`` / ``proto`` / ``domain_profile``:
      :func:`similarity.domain_scores` against fixed centroids (unit
      embeddings of vec_id < ``_DOMAIN_CELLS``) — the domain label, the
      own-centroid cosine at 1e-6 fixed point, and the per-domain
      (n_docs, token sum) card joined from documents.
    - ``pq`` / ``pq_adc``: product quantization with ``fit='sample'``
      codebooks — per-subspace codes and the compressed-domain ADC
      top-5 for 3 queries.
    - ``ivf_pq``: the composed IVF-PQ serving path over raw grid
      centroids (vec_id < ``_IVFPQ_CENTS``), the same codebooks and
      codes, a 4-probe candidate join and ADC ranking.
    - ``ivf_pq_res``: residual IVFADC — squared-L2 coarse assignment,
      PQ over ``x − c``, and the decomposed ``q·c + Σ q·cv`` score.

    The argmax frame (read by three sections) and the PQ codes (read by
    three sections) are staged with lazy ``localCheckpoint``s."""
    emb = load_table(spark, sf_dir, "embeddings")
    mm = similarity.dimension_minmax(emb, vec_col="embedding")
    coded = similarity.quantize_embeddings(emb, mm, id_col="vec_id", vec_col="embedding")
    codes = coded.select(
        F.lit("codes").alias("section"),
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes_csv"),
        F.size("codes").cast("int").alias("n_dims"),
    )
    emb6 = emb.select(
        F.col("label").cast("bigint").alias("label"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )
    pooled = similarity.mean_pool_embeddings(emb6, "label").select(
        F.lit("pooled").alias("section"),
        F.col("label").alias("vec_id"),
        F.array_join(
            F.transform(
                "embedding", lambda x: F.round(x).cast("bigint").cast("string")
            ),
            ",",
        ).alias("codes_csv"),
        F.col("n_pooled").cast("int").alias("n_dims"),
    )
    # |±1-signed sum| ≤ 64·~2e6 ≪ 2⁵³: exact in doubles
    emb6_v = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )
    dim = embedding_dim(spark, sf_dir)
    rp = similarity.random_projection(
        emb6_v, out_dim=8, hash_fn="md5", dim=dim, scale=False
    ).select(
        F.lit("rp").alias("section"),
        "vec_id",
        F.array_join(
            F.transform("rp", lambda x: F.round(x).cast("bigint").cast("string")),
            ",",
        ).alias("codes_csv"),
        F.lit(8).cast("int").alias("n_dims"),
    )
    cents = emb.where(F.col("vec_id") < _DOMAIN_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        similarity._unit(F.col("embedding")).alias("cv"),
    )
    scored = similarity.domain_scores(emb, cents, assign_round=6).localCheckpoint(
        eager=False
    )
    asg = scored.select("vec_id", "domain")
    dom = asg.select(
        F.lit("domain").alias("section"),
        "vec_id",
        F.col("domain").cast("string").alias("codes_csv"),
        F.col("domain").cast("int").alias("n_dims"),
    )
    proto = scored.select(
        F.lit("proto").alias("section"),
        "vec_id",
        F.round(F.col("proto_sim") * F.lit(1e6))
        .cast("bigint")
        .cast("string")
        .alias("codes_csv"),
        F.col("domain").cast("int").alias("n_dims"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", dedup.n_tokens(F.col("text")).alias("n_tok")
    )
    prof = similarity.domain_profile(
        asg.join(docs, asg["vec_id"] == docs["doc_id"]), token_col="n_tok"
    ).select(
        F.lit("domain_profile").alias("section"),
        F.col("domain").cast("bigint").alias("vec_id"),
        F.concat_ws(
            ",", F.col("n_docs").cast("string"), F.col("n_tokens").cast("string")
        ).alias("codes_csv"),
        F.col("n_docs").cast("int").alias("n_dims"),
    )
    pq_cb = similarity.pq_codebooks(
        emb6_v, m=_PQ_M, dim=dim, n_codes=_PQ_CODES
    )
    pq_codes = similarity.pq_encode(emb6_v, pq_cb, m=_PQ_M, dim=dim).localCheckpoint(
        eager=False
    )
    pq = pq_codes.select(
        F.lit("pq").alias("section"),
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes_csv"),
        F.lit(_PQ_M).cast("int").alias("n_dims"),
    )
    pq_q = emb6_v.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def _topk_section(ranked: DataFrame, tag: str) -> DataFrame:
        """Fold a (query_id, rank, vec_id, score) ranking into one
        hash-checkable csv row per query — 'vec:score' hits in rank
        order (scores are exact grid integers)."""
        return (
            ranked.groupBy("query_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "rank",
                                    F.concat_ws(
                                        ":",
                                        F.col("vec_id").cast("string"),
                                        F.col("score").cast("bigint").cast("string"),
                                    ).alias("hit"),
                                )
                            )
                        ),
                        lambda x: x["hit"],
                    ),
                    ",",
                ).alias("codes_csv"),
                F.count(F.lit(1)).cast("int").alias("n_dims"),
            )
            .select(
                F.lit(tag).alias("section"),
                F.col("query_id").alias("vec_id"),
                "codes_csv",
                "n_dims",
            )
        )

    pq_adc = _topk_section(
        similarity.pq_topk(pq_codes, pq_q, pq_cb, k=5, m=_PQ_M, dim=dim), "pq_adc"
    )
    ivf_cents = emb6_v.where(F.col("vec_id") < _IVFPQ_CENTS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    ivfpq = _topk_section(
        similarity.ivf_pq_topk(
            emb6_v,
            pq_q,
            k=5,
            m=_PQ_M,
            dim=dim,
            n_codes=_PQ_CODES,
            n_probe=_IVFPQ_PROBE,
            centroids=ivf_cents,
            codebooks=pq_cb,
            codes=pq_codes,
        ),
        "ivf_pq",
    )
    ivfpqres = _topk_section(
        similarity.ivf_pq_residual_topk(
            emb6_v,
            pq_q,
            k=5,
            m=_PQ_M,
            dim=dim,
            n_codes=_PQ_CODES,
            n_centroids=_IVFPQ_CENTS,
            n_probe=_IVFPQ_PROBE,
        ),
        "ivf_pq_res",
    )
    return {
        "codes": codes,
        "pooled": pooled,
        "rp": rp,
        "domain": dom,
        "proto": proto,
        "domain_profile": prof,
        "pq": pq,
        "pq_adc": pq_adc,
        "ivf_pq": ivfpq,
        "ivf_pq_res": ivfpqres,
    }


#: X51 messy-HTML adapter pieces (the inject_punctuation convention:
#: the corpus carries no markup, so the gate synthesizes deterministic
#: markup around each doc — block constructs with tricky bodies, a
#: doc-varying entity run and inline-tag run for count sensitivity).
#: Double-quoted attributes only, so the SQL literal needs no escaping.
_HTML_PRE = (
    '<!DOCTYPE html><html lang="en"><head>'
    '<script type="text/js">if (a<b) (x && y);</script>'
    '<style media="all">p (margin)</style>'
    "<!-- hdr --></head><body id=\"m\">"
)
_HTML_POST = "tail</b></body></html>"


def _messy_html_sql() -> str:
    return (
        "'" + _HTML_PRE + "' || repeat('&amp;x ', CAST(doc_id % 4 AS INT))"
        " || COALESCE(text, '') || ' <b>'"
        " || repeat('&nbsp;', CAST(doc_id % 3 AS INT)) || '" + _HTML_POST + "'"
    )


def _messy_html_col() -> F.Column:
    return F.concat(
        F.lit(_HTML_PRE),
        F.expr("repeat('&amp;x ', CAST(doc_id % 4 AS INT))"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" <b>"),
        F.expr("repeat('&nbsp;', CAST(doc_id % 3 AS INT))"),
        F.lit(_HTML_POST),
    )


def _messy_url_sql() -> str:
    """The synthesized MESSY URL per doc for the X42 gate section —
    deterministic md5-parity variant choices (the `inject_punctuation`
    convention), one definition rendered into both dialects."""
    def d(i: int, k: int) -> str:
        h = "md5('url:' || CAST(doc_id AS VARCHAR))"
        return f"{hex_int_sql(h, i, 1)} % {k}"

    return (
        f"CASE {d(1, 4)} WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' WHEN 2 THEN 'https' ELSE 'HtTpS' END"
        f" || '://'"
        f" || CASE WHEN {d(2, 2)} = 0 THEN 'www.' ELSE '' END"
        f" || 'Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM'"
        f" || CASE {d(3, 4)} WHEN 0 THEN '' WHEN 1 THEN ':80' WHEN 2 THEN ':443' ELSE ':8080' END"
        f" || '/Docs/Page-' || CAST(doc_id AS VARCHAR)"
        f" || CASE {d(4, 4)} WHEN 0 THEN '' WHEN 1 THEN '?id=' || CAST(doc_id AS VARCHAR)"
        f"    WHEN 2 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)"
        f"    ELSE '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x&fbclid=abc' END"
        f" || CASE WHEN {d(5, 2)} = 0 THEN '#Sec2' ELSE '' END"
    )


def _messy_url_col() -> F.Column:
    """Spark rendering of :func:`_messy_url_sql` (same digits, same
    variants)."""
    def d(i: int, k: int) -> F.Column:
        h = F.md5(F.concat(F.lit("url:"), F.col("doc_id").cast("string")))
        return hex_int(h, i, 1) % k

    did = F.col("doc_id").cast("string")
    scheme = (
        F.when(d(1, 4) == 0, F.lit("http"))
        .when(d(1, 4) == 1, F.lit("HTTP"))
        .when(d(1, 4) == 2, F.lit("https"))
        .otherwise(F.lit("HtTpS"))
    )
    www = F.when(d(2, 2) == 0, F.lit("www.")).otherwise(F.lit(""))
    port = (
        F.when(d(3, 4) == 0, F.lit(""))
        .when(d(3, 4) == 1, F.lit(":80"))
        .when(d(3, 4) == 2, F.lit(":443"))
        .otherwise(F.lit(":8080"))
    )
    query = (
        F.when(d(4, 4) == 0, F.lit(""))
        .when(d(4, 4) == 1, F.concat(F.lit("?id="), did))
        .when(d(4, 4) == 2, F.concat(F.lit("?utm_source=feed&id="), did))
        .otherwise(F.concat(F.lit("?id="), did, F.lit("&utm_campaign=x&fbclid=abc")))
    )
    frag = F.when(d(5, 2) == 0, F.lit("#Sec2")).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://"), www,
        F.lit("Example"), (F.col("doc_id") % 7).cast("string"), F.lit(".COM"),
        port, F.lit("/Docs/Page-"), did, query, frag,
    )


@register(
    "text_normalize_unicode",
    rf"""
SELECT doc_id,
       md5(regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS norm_hash,
       CASE WHEN text IS NULL THEN 0
            WHEN regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') <> text
            THEN 1 ELSE 0 END AS changed,
       {dedup.canonicalize_url_sql(_messy_url_sql())} AS url_canon,
       {dedup.url_host_sql(_messy_url_sql())} AS url_host,
       md5({dedup.strip_markup_sql(_messy_html_sql())}) AS html_hash,
       {dedup.markup_stats_sql(_messy_html_sql())[0]} AS n_tags,
       {dedup.markup_stats_sql(_messy_html_sql())[1]} AS n_entities
FROM documents
""",
)
def q_text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization at the driver gate: NFC
    fold + C0-control strip over every document, hash-checked against
    DuckDB's ``nfc_normalize`` (md5 of the normalized bytes + the
    changed flag).  The accent-fold variant and the planted NFD-vs-NFC
    dedup collapse are pinned in pytest; ``curate_documents`` exposes
    the stage as ``unicode_form=``.

    The X42 URL-CANONICALIZATION columns cover the other
    normalization a crawl pipeline runs before per-URL/host dedup
    policy: ``url_canon`` + ``url_host`` over a deterministic
    md5-parity MESSY url per doc (mixed-case schemes/hosts, www,
    default and non-default ports, tracking params in every position,
    fragments — the `inject_punctuation` adapter convention, one
    definition rendered into both dialects), so the full extraction +
    lowercase + port/www strip + tracker-removal + separator-repair
    chain is hash-checked string-for-string."""
    docs = load_table(spark, sf_dir, "documents")
    normed = dedup.normalize_unicode(docs, "text", "doc_id")
    messy = _messy_url_col()  # depends only on doc_id — rides the same projection
    # X51: markup stripping over the messy-HTML adapter — block
    # removal (script/style/comment), tag removal, ordered entity
    # decode (&amp; last), WHITESPACE_RE collapse — md5 of the stripped
    # text plus the raw tag/entity counters, all doc-varying
    mh = _messy_html_col()
    n_tags, n_entities = dedup.markup_stats(mh)
    # the adapter reads the ORIGINAL text; normalize_unicode rewrote its
    # text column, so the html card computes from the source frame and
    # joins back on the id (normalize_unicode is an Arrow stage — its
    # exprs can't ride the same projection)
    html = docs.select(
        "doc_id",
        F.md5(dedup.strip_markup(mh)).alias("html_hash"),
        n_tags.alias("n_tags"),
        n_entities.alias("n_entities"),
    )
    return normed.select(
        "doc_id",
        F.md5("text").alias("norm_hash"),
        "changed",
        dedup.canonicalize_url(messy).alias("url_canon"),
        dedup.url_host(messy).alias("url_host"),
    ).join(html, "doc_id")

