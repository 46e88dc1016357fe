"""Text analysis operators (SURVEY.md §2.2 X5): stats, quality scoring,
language ID, token counting, fingerprinting.

All built-in ``pyspark.sql.functions`` string/regex expressions — JVM-side,
whole-stage-codegen'd, zero Python.  Every measure is either integer math
or a single-division ratio, so the DuckDB oracles (plans/llm_ops.py)
hash-match without rounding games; only multi-term scores are rounded.
"""

from __future__ import annotations

import re
from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.hashing import hex_int, hex_int_sql
from pyspark_dist_explore_spark.operators.dedup import (
    WHITESPACE_RE,
    _gram_rows,
    _token_rows,
    _token_rows_sql,
    n_tokens,
    normalize_text,
    sum_cols,
    tokens,
    word_tokens,
    word_tokens_sql,
)

#: BPE-ish tokenization: letter runs, digit runs, or punctuation runs.
TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

#: tiny per-language stopword marker lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " los ", " una "],
    "fr": [" le ", " les ", " des "],
}


def occurrence_count(text: Column, needle: str) -> Column:
    """#occurrences of ``needle``: one regex scan per marker (leftmost
    non-overlapping, same counting rule both engines use).  The oracle
    renders ``len(regexp_extract_all(t, n))`` over the identical
    ``re.escape``-d pattern, so the two sides cannot drift."""
    return F.regexp_count(text, F.lit(re.escape(needle))).cast("bigint")


def _stats_exprs(t: Column) -> list[Column]:
    """The five per-document stat columns, aliased — shared by
    :func:`text_stats` and the merged :func:`text_profile`."""
    norm = normalize_text(t)
    ws_tokens = n_tokens(t)
    re_tokens = F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), F.lit(0)))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^a-zA-Z0-9\s]"), F.lit(0)))
    n_chars = F.length(t)
    return [
        n_chars.cast("bigint").alias("n_chars"),
        ws_tokens.alias("n_tokens"),
        re_tokens.cast("bigint").alias("n_bpe_tokens"),
        n_punct.cast("bigint").alias("n_punct"),
        F.round(
            F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("double")
            / F.greatest(ws_tokens, F.lit(1)),
            6,
        ).alias("avg_token_len"),
    ]


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document stats: chars, whitespace tokens, regex (BPE-ish) tokens,
    punctuation count, avg token length."""
    return df.select(F.col(id_col).alias("doc_id"), *_stats_exprs(F.col(text_col)))


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stats + quality in ONE row-local projection (a single scan — the
    shape :func:`text_stats` ∪ :func:`quality_score` would need a
    join to produce): ``(doc_id, n_chars, n_tokens, n_bpe_tokens,
    n_punct, avg_token_len, alpha_ratio, punct_ratio, quality)``."""
    t = F.col(text_col)
    alpha_ratio, punct_ratio, score = quality_ratio_exprs(t)
    return df.select(
        F.col(id_col).alias("doc_id"),
        *_stats_exprs(t),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality"),
    )


def text_profile_lang(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    classifier: bool = False,
    gopher: dict | None = None,
) -> DataFrame:
    """:func:`text_profile` ∪ :func:`language_id` in one row-local
    projection over one scan: ``(doc_id, n_chars, n_tokens,
    n_bpe_tokens, n_punct, avg_token_len, alpha_ratio, punct_ratio,
    quality, score_<lang>…, lang_pred)``.  Every column is a pure
    expression, so the merged form is cheaper than joining the two
    separate outputs.

    ``gopher=`` (a kwargs dict for :func:`gopher_keep_expr`, ``{}`` for
    the paper's bounds) appends the Gopher signals and gate (``gq_*``,
    ``gq_keep``) through :func:`with_gopher_gate`.

    ``classifier=True`` appends the hashed n-gram classifier gate
    ``(n_cls_grams, cls_logit_num, cls_keep)`` in its md5 form (1<<20
    buckets, weight scale 1<<16, uni+bigrams, threshold 0/1), which
    :func:`classifier_sql` reproduces in DuckDB.  With both gates the
    classifier grams come from the Gopher pass's staged token array, so
    each row is tokenized once.  Still one scan and no shuffle."""
    t = F.col(text_col)
    alpha_ratio, punct_ratio, score = quality_ratio_exprs(t)
    scores = lang_score_exprs(t)
    cols = [
        F.col(id_col).alias("doc_id"),
        *_stats_exprs(t),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        lang_pred_expr(t).alias("lang_pred"),
    ]
    if gopher is not None:
        staged = _gopher_gate(
            df.select(*cols, t.alias("__gq_raw")),
            F.col("__gq_raw"),
            gopher,
            cls_grams=classifier,
        ).drop("__gq_raw")
    elif classifier:
        staged = df.select(*cols, _cls_gram_col(t, bigrams=True).alias("__cls_grams"))
    else:
        return df.select(*cols)
    if not classifier:
        return staged
    return _gate_from_grams(
        staged,
        n_buckets=1 << 20,
        weight_scale=1 << 16,
        threshold=(0, 1),
        hash_fn="md5",
    )


#: Gopher rule 7's stop-word list, verbatim (Rae et al. 2021, A1.1)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: an ellipsis, as the Gopher symbol and line rules count it
_ELLIPSIS_RE = r"\.\.\.|…"

#: a bullet mark, as the Gopher line rule counts it at a line start
_BULLET_RE = "[-*•]"


def _line_ends(x: Column, pat: str) -> Column:
    """Line ``x`` ends in regex ``pat`` once trailing whitespace
    (``WHITESPACE_RE``) is stripped.  ``\\z`` is the true end of input
    in both Java and RE2 (Java's ``$`` also matches before a final
    ``\\r``).  DuckDB twin: :func:`_line_ends_sql`."""
    return x.rlike(f"(?:{pat}){WHITESPACE_RE}*\\z")


def _line_ends_sql(x: str, pat: str) -> str:
    """DuckDB twin of :func:`_line_ends` over the SQL expression ``x``."""
    return f"regexp_matches({x}, '(?:{pat}){WHITESPACE_RE}*\\z')"


def _line_starts(x: Column, pat: str) -> Column:
    """Line ``x`` starts with regex ``pat`` once leading whitespace
    (``WHITESPACE_RE``) is stripped.  DuckDB twin: :func:`_line_starts_sql`."""
    return x.rlike(f"^{WHITESPACE_RE}*(?:{pat})")


def _line_starts_sql(x: str, pat: str) -> str:
    """DuckDB twin of :func:`_line_starts` over the SQL expression ``x``."""
    return f"regexp_matches({x}, '^{WHITESPACE_RE}*(?:{pat})')"


def gopher_signal_exprs(toks: Column, lines: Column, t: Column) -> list[Column]:
    """The per-document integer signals behind the Gopher/MassiveText
    quality rules (Rae et al. 2021, arXiv:2112.11446 appendix A1.1),
    aliased ``gq_*`` — all BIGINT counts over a staged token array and
    line array (pass staged columns: higher-order functions are
    CodegenFallback, so an unstaged array would be rebuilt once per
    consumer).  :func:`with_gopher_gate` is the staged caller.

    ``toks`` = :func:`word_tokens` of the text; ``lines`` = raw-text
    lines (``split('\\n')``; a bullet line starts with ``-``/``*``/``•``
    once leading whitespace is stripped, :func:`_line_starts`, and an
    ellipsis line ends in ``...``/``…`` once trailing whitespace is
    stripped, :func:`_line_ends`); ``t`` = the raw text (symbol
    counting wants original bytes).
    """
    return [
        F.size(toks).cast("bigint").alias("gq_n_words"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("gq_word_chars"),
        # hash-symbol and ellipsis counts SEPARATELY — A1.1 thresholds
        # each ratio on its own (a doc with 0.06 of each is kept)
        F.regexp_count(F.coalesce(t, F.lit("")), F.lit(r"#"))
        .cast("bigint")
        .alias("gq_n_hash"),
        F.regexp_count(F.coalesce(t, F.lit("")), F.lit(_ELLIPSIS_RE))
        .cast("bigint")
        .alias("gq_n_ellipsis"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
        .cast("bigint")
        .alias("gq_n_alpha_words"),
        sum_cols(
            [F.array_contains(toks, sw).cast("bigint") for sw in GOPHER_STOPWORDS]
        ).alias("gq_n_stop"),
        F.size(lines).cast("bigint").alias("gq_n_lines"),
        F.size(F.filter(lines, lambda x: _line_starts(x, _BULLET_RE)))
        .cast("bigint")
        .alias("gq_bullet_lines"),
        F.size(F.filter(lines, lambda x: _line_ends(x, _ELLIPSIS_RE)))
        .cast("bigint")
        .alias("gq_ellipsis_lines"),
    ]


def gopher_keep_expr(
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    mean_word_len: tuple[int, int] = (3, 10),
    max_symbol_ratio: tuple[int, int] = (1, 10),
    max_bullet_ratio: tuple[int, int] = (9, 10),
    max_ellipsis_ratio: tuple[int, int] = (3, 10),
    min_alpha_ratio: tuple[int, int] = (4, 5),
    min_stop_words: int = 2,
) -> Column:
    """The Gopher keep gate over the ``gq_*`` signal columns — every
    rule an INTEGER-rational comparison (cross-multiplied, no division,
    no float: ORACLES.md class A by construction).  Defaults are the
    paper's published bounds; ratios are ``(num, den)`` rationals.
    Rules (A1.1): word count in [min, max]; mean word length in
    [lo, hi]; hash-symbol-to-word ratio ≤ num/den AND ellipsis-to-word
    ratio ≤ num/den (each thresholded SEPARATELY, as the paper states
    them); bullet-started lines ≤ 90%; ellipsis-ended lines ≤ 30%
    (closed bounds — the paper drops only documents with MORE than
    those fractions); ≥ 80% of words contain an alphabetic char; ≥ 2
    distinct stop words."""
    lo_wl, hi_wl = mean_word_len
    sym_n, sym_d = max_symbol_ratio
    bul_n, bul_d = max_bullet_ratio
    ell_n, ell_d = max_ellipsis_ratio
    al_n, al_d = min_alpha_ratio
    w = F.col("gq_n_words")
    return (
        (w >= min_words)
        & (w <= max_words)
        & (F.lit(lo_wl) * w <= F.col("gq_word_chars"))
        & (F.col("gq_word_chars") <= F.lit(hi_wl) * w)
        & (F.lit(sym_d) * F.col("gq_n_hash") <= F.lit(sym_n) * w)
        & (F.lit(sym_d) * F.col("gq_n_ellipsis") <= F.lit(sym_n) * w)
        & (
            F.lit(bul_d) * F.col("gq_bullet_lines")
            <= F.lit(bul_n) * F.col("gq_n_lines")
        )
        & (
            F.lit(ell_d) * F.col("gq_ellipsis_lines")
            <= F.lit(ell_n) * F.col("gq_n_lines")
        )
        & (F.lit(al_d) * F.col("gq_n_alpha_words") >= F.lit(al_n) * w)
        & (F.col("gq_n_stop") >= min_stop_words)
    ).cast("int")


def _gopher_gate(
    df: DataFrame, t: Column, rules: dict, *, cls_grams: bool = False
) -> DataFrame:
    """:func:`with_gopher_gate`'s staged pass.  Stage 1 appends the
    token array (:func:`word_tokens`) and the line array; with
    ``cls_grams`` it also appends the classifier's uni+bigram list
    ``__cls_grams`` built from that token array.  Stage 2 appends the
    ``gq_*`` signals and drops both arrays; stage 3 appends
    ``gq_keep``.  Chained projections keep each array built once per
    row: higher-order functions are CodegenFallback, so codegen would
    not share an unstaged array between its consumers."""
    staged = df.select(
        "*",
        word_tokens(t).alias("__gq_toks"),
        F.split(F.coalesce(t, F.lit("")), "\n").alias("__gq_lines"),
    )
    if cls_grams:
        staged = staged.select(
            "*",
            _cls_grams_from_tokens(F.col("__gq_toks"), bigrams=True).alias(
                "__cls_grams"
            ),
        )
    sig = staged.select(
        "*", *gopher_signal_exprs(F.col("__gq_toks"), F.col("__gq_lines"), t)
    ).drop("__gq_toks", "__gq_lines")
    return sig.select("*", gopher_keep_expr(**rules).alias("gq_keep"))


def with_gopher_gate(df: DataFrame, t: Column, **rules) -> DataFrame:
    """Append the Gopher signals (``gq_n_words`` … ``gq_ellipsis_lines``,
    :func:`gopher_signal_exprs`) and the gate ``gq_keep``
    (:func:`gopher_keep_expr` with ``rules``) to ``df``, all input
    columns kept.  ``t`` is the text expression over ``df``'s columns;
    a NULL text scores as an empty one.  Row-local staged projections:
    no shuffle, no join."""
    return _gopher_gate(df, t, rules)


def gopher_quality_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_words: int = 2,
) -> DataFrame:
    """X31: the Gopher/MassiveText rule-set quality filter (Rae et al.
    2021, arXiv:2112.11446 A1.1) per document: ``(doc_id, gq_n_words,
    gq_word_chars, gq_n_hash, gq_n_ellipsis, gq_n_alpha_words,
    gq_n_stop, gq_n_lines, gq_bullet_lines, gq_ellipsis_lines,
    gq_keep)``, computed by :func:`with_gopher_gate`.

    Every signal is an exact BIGINT count and the gate cross-multiplies
    the paper's ratio rules into integer comparisons, so no ratio
    materializes as a float and the DuckDB twin (:func:`gopher_sql`)
    matches bit for bit (class A).  No shuffle, join or Python.

    ``min_words``/``max_words``/``min_stop_words`` are exposed because
    they scale with document length (the paper's 50/100k assume web
    pages); the ratio rules keep the published constants.
    """
    return with_gopher_gate(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__gq_raw")),
        F.col("__gq_raw"),
        min_words=min_words,
        max_words=max_words,
        min_stop_words=min_stop_words,
    ).drop("__gq_raw")


def gopher_sql(
    src: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_words: int = 2,
) -> str:
    """DuckDB twin of :func:`gopher_quality_gate`: same normalized token
    list, same line split, same integer cross-multiplied rules.  ``src``
    must yield ``(doc_id, text)``.  Every column is an exact integer —
    both engines share the very bits by construction."""
    stop_sum = " + ".join(
        f"CASE WHEN list_contains(l, '{sw}') THEN 1 ELSE 0 END"
        for sw in GOPHER_STOPWORDS
    )
    return f"""
WITH gq_src AS ({src}),
gq_t AS (
  SELECT doc_id,
         {word_tokens_sql("text")} AS l,
         string_split(COALESCE(text, ''), chr(10)) AS ls,
         COALESCE(text, '') AS raw
  FROM gq_src
),
gq_s AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS gq_n_words,
         CAST(COALESCE(list_sum(list_transform(l, x -> len(x))), 0) AS BIGINT)
           AS gq_word_chars,
         CAST(len(regexp_extract_all(raw, '#')) AS BIGINT) AS gq_n_hash,
         CAST(len(regexp_extract_all(raw, '{_ELLIPSIS_RE}')) AS BIGINT) AS gq_n_ellipsis,
         CAST(len(list_filter(l, x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
           AS gq_n_alpha_words,
         CAST({stop_sum} AS BIGINT) AS gq_n_stop,
         CAST(len(ls) AS BIGINT) AS gq_n_lines,
         CAST(len(list_filter(ls, x -> {_line_starts_sql("x", _BULLET_RE)}))
              AS BIGINT) AS gq_bullet_lines,
         CAST(len(list_filter(ls, x -> {_line_ends_sql("x", _ELLIPSIS_RE)}))
              AS BIGINT) AS gq_ellipsis_lines
  FROM gq_t
)
SELECT doc_id, gq_n_words, gq_word_chars, gq_n_hash, gq_n_ellipsis,
       gq_n_alpha_words, gq_n_stop,
       gq_n_lines, gq_bullet_lines, gq_ellipsis_lines,
       CASE WHEN gq_n_words >= {min_words} AND gq_n_words <= {max_words}
             AND 3 * gq_n_words <= gq_word_chars
             AND gq_word_chars <= 10 * gq_n_words
             AND 10 * gq_n_hash <= 1 * gq_n_words
             AND 10 * gq_n_ellipsis <= 1 * gq_n_words
             AND 10 * gq_bullet_lines <= 9 * gq_n_lines
             AND 10 * gq_ellipsis_lines <= 3 * gq_n_lines
             AND 5 * gq_n_alpha_words >= 4 * gq_n_words
             AND gq_n_stop >= {min_stop_words}
            THEN 1 ELSE 0 END AS gq_keep
FROM gq_s
"""


def quality_ratio_exprs(t: Column) -> tuple[Column, Column, Column]:
    """(alpha_ratio, punct_ratio, quality) as row-local expressions —
    importable so pipelines can score inline on an existing scan instead
    of paying a join against :func:`quality_score`'s output.  Ratios are
    unrounded; the [0,1] quality score is rounded to 6 dp."""
    n_chars = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(t, r"[a-zA-Z0-9\s]", "")).cast("double")
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1.0))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    len_score = F.when((n_chars >= 20) & (n_chars <= 10000), F.lit(1.0)).otherwise(F.lit(0.5))
    score = F.round(
        F.lit(0.5) * alpha_ratio + F.lit(0.3) * (F.lit(1.0) - punct_ratio) + F.lit(0.2) * len_score,
        6,
    )
    return alpha_ratio, punct_ratio, score


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality in [0,1]: penalize extreme length, high punctuation
    density, low alphabetic ratio.  Deterministic single-row math."""
    alpha_ratio, punct_ratio, score = quality_ratio_exprs(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality"),
    )


def lang_score_exprs(t: Column) -> dict[str, Column]:
    """Per-language marker counts over the space-padded normalized text,
    keyed by language code (sorted)."""
    padded = F.concat(F.lit(" "), normalize_text(t), F.lit(" "))
    return {
        lang: sum_cols([occurrence_count(padded, m) for m in LANG_MARKERS[lang]])
        for lang in sorted(LANG_MARKERS)
    }


def lang_pred_expr(t: Column) -> Column:
    """Predicted language code as one row-local expression ('und' when no
    marker hits) — importable so pipelines can filter on language inline
    without a join against :func:`language_id`'s output."""
    scores = lang_score_exprs(t)
    langs = sorted(scores)
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        lang = langs[i]
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return F.when(sum_cols(list(scores.values())) == 0, F.lit("und")).otherwise(pred)


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-marker language ID with deterministic argmax (highest
    score wins; ties go to the alphabetically-first language code).

    The argmax is a plain CASE chain over the per-language marker
    counts, so the DuckDB oracle renders the identical logic.
    """
    t = F.col(text_col)
    scores = lang_score_exprs(t)
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        lang_pred_expr(t).alias("lang_pred"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection).

    Classic MOSS-style scheme: hash every word ``k``-gram (the rolling
    hash is per-gram — cheaper on Spark than a true polynomial roll and
    just as selective), then keep the MINIMUM hash of each ``window`` of
    consecutive grams.  Guarantees any shared substring of ≥ k+window-1
    words yields a shared fingerprint, while storing only ~1/window of
    the grams.  Output: (doc_id, fingerprint) distinct rows — join on
    fingerprint to find copied passages.

    ``hash_fn`` picks the gram hash: ``"xxhash64"`` (BIGINT fingerprints,
    the fast default) or ``"md5"`` (32-hex STRING fingerprints — md5
    exists identically in DuckDB, and lexicographic min over fixed-width
    hex equals numeric min, so the md5 variant is hash-oracle-checkable
    end-to-end; the window-min selection logic is byte-identical between
    the two).

    Execution shape: the word ``k``-grams of
    :func:`dedup._gram_rows` (a ``lead`` window over the exploded token
    stream; a doc shorter than ``k`` tokens gives one whole-doc gram),
    hashed; the gram window and the sliding fingerprint minimum share
    the same ``(doc_id, idx)`` partitioning+sort, so the whole operator
    is ONE shuffle + one sort + the final distinct.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    gram = F.col("gram")
    hashed = F.xxhash64(gram) if hash_fn == "xxhash64" else F.md5(gram)
    grams = _gram_rows(_token_rows(df, text_col, id_col), k).select(
        "doc_id", "idx", hashed.alias("h"), "n_tok"
    )
    w_min = Window.partitionBy("doc_id").orderBy("idx").rowsBetween(
        Window.currentRow, window - 1
    )
    return (
        grams.withColumn("fp", F.min("h").over(w_min))
        # full windows only — plus idx 0 when the doc has fewer grams
        # than one window (n_grams = n_tok - k + 1)
        .where((F.col("idx") <= F.col("n_tok") - k - (window - 1)) | (F.col("idx") == 0))
        .select("doc_id", F.col("fp").alias("fingerprint"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Text vectorization (X5 second half): term frequencies + TF-IDF
# --------------------------------------------------------------------------


def term_frequencies(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, term, tf) — raw per-document term counts.

    Relational CountVectorizer: explode whitespace tokens of the
    normalized text, hash-aggregate by (doc, term).  One shuffle whose
    key cardinality is Σ distinct terms per doc; partial counts combine
    map-side.  No vocabulary fit/broadcast step (terms stay strings, not
    indices), so the operator is a single pass at any corpus size.
    """
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_df: int = 1,
) -> DataFrame:
    """(doc_id, term, tf, df_t, tfidf) — smoothed TF-IDF weights.

    ``idf = ln((N + 1) / (df_t + 1)) + 1`` (sklearn's smooth_idf shape:
    never zero, never divides by zero).  Document frequencies are a
    second hash aggregate over the tf rows; the idf join is by term —
    at scale the df side is vocabulary-sized (≪ corpus), so AQE
    broadcasts it.  ``tfidf`` is rounded to 6 (ln differs in the last
    ulp across engines).

    100 TB note: the tf subtree feeds both the output and the df_t
    aggregate, and N scans the corpus once more — Catalyst plans up to
    three scans of ``df``.  At scale, ``persist()`` the
    :func:`term_frequencies` frame (or land it to parquet) first and
    pass precomputed N; the formula stages are unchanged.
    """
    tf = term_frequencies(df, text_col, id_col)
    # corpus size as a lazy 1-row broadcast (never .count() on the driver)
    n = df.agg(F.count_distinct(F.col(id_col)).cast("double").alias("n_docs"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))  # tf rows are distinct per (doc, term)
        .where(F.col("df_t") >= min_df)
    )
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df_t") + F.lit(1.0))) + F.lit(1.0)
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df_t",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def tfidf_doc_vectors(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: list[str],
) -> DataFrame:
    """(doc_id, vec: array<double>) — dense L2-normalized TF-IDF vectors
    over a driver-known vocabulary, ready for the similarity operators
    (:mod:`operators.similarity` expects array columns).

    The vocabulary must be driver-small (it defines the dense dimension);
    derive it from ``tfidf(...)`` top-N terms.  Pivot is map-side
    (conditional aggregation per vocab slot), one shuffle by doc_id.
    """
    w = tfidf(df, text_col, id_col)
    slots = [
        F.sum(F.when(F.col("term") == t, F.col("tfidf")).otherwise(F.lit(0.0))).alias(f"_v{i}")
        for i, t in enumerate(vocab)
    ]
    wide = w.groupBy("doc_id").agg(*slots)
    vec = F.array(*[F.col(f"_v{i}") for i in range(len(vocab))])
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = F.transform(vec, lambda x: F.when(norm > 0, x / norm).otherwise(F.lit(0.0)))
    return wide.select("doc_id", unit.alias("vec"))


def word2vec_embeddings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    vector_size: int = 16,
    min_count: int = 1,
    seed: int = 42,
    max_iter: int = 1,
) -> DataFrame:
    """(doc_id, vec: array<double>) — Spark ML Word2Vec document vectors
    (average of word vectors), seeded for reproducibility.

    Closes SURVEY §2.2 X5's ``Word2Vec`` mapping ($PYSPARK/ml/feature.py
    Word2Vec).  Training is iterative (not a one-pass SQL plan) — at
    scale fit on a corpus sample and ``transform`` the full table; the
    transform itself is a map-side lookup join, embarrassingly parallel.
    Output plugs into :mod:`operators.similarity` like any embedding
    column.
    """
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).where(F.size("toks") > 0)
    model = Word2Vec(
        inputCol="toks",
        outputCol="w2v",
        vectorSize=vector_size,
        minCount=min_count,
        seed=seed,
        maxIter=max_iter,
    ).fit(toks)
    return model.transform(toks).select(
        "doc_id", vector_to_array(F.col("w2v")).alias("vec")
    )


# --------------------------------------------------------------------------
# Curation signals (X5): PII-style scrubbing and
# Gopher/MassiveText-style repetition measures
# --------------------------------------------------------------------------

#: ordered (kind, regex) — applied in THIS order when scrubbing, so the
#: Spark chain and the DuckDB oracle replace identically.  Patterns stay
#: inside the Java∩RE2 common dialect (no lookaround, no backrefs).
SCRUB_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[^\s]+"),
    ("phone", r"\+?[0-9][0-9()\-\s]{6,}[0-9]"),
]


def scrub_text(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    replacement: str = "<redacted>",
) -> DataFrame:
    """PII-style redaction: emails, URLs, phone-number-shaped runs.

    Returns ``(doc_id, n_email, n_url, n_phone, scrubbed)`` — counts are
    measured on the ORIGINAL text per pattern (independent signals, not
    order-dependent leftovers); the scrubbed text applies the
    replacements sequentially in ``SCRUB_PATTERNS`` order.  Pure
    row-local regex work (whole-stage codegen, no shuffle), and every
    pattern lives in the Java∩RE2 common dialect so DuckDB's
    ``regexp_extract_all`` / ``regexp_replace(…,'g')`` reproduce both
    the counts and the scrubbed bytes exactly (the registered query
    hash-checks ``md5(scrubbed)``).
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("bigint").alias(f"n_{kind}")
        for kind, pat in SCRUB_PATTERNS
    ]
    scrubbed = t
    for _, pat in SCRUB_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, replacement)
    return df.select(F.col(id_col).alias("doc_id"), *counts, scrubbed.alias("scrubbed"))


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition measures per document:

    - ``n_tokens`` / ``dup_token_frac``: ``1 − distinct/total`` tokens —
      word-salad and boilerplate both push this up;
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over all bigram slots — the classic repeated-phrase signal
      (NULL for docs with < 2 tokens, where no bigram exists).

    Execution: one token explode feeds a per-doc hash aggregate (token
    counts) and a lead-window bigram build sharing the same
    ``(doc_id, idx)`` sort as winnowing; bigram counts are a second hash
    aggregate, reduced per-doc with ``max``/``sum`` partials.  Ratios
    round to 6 so the DuckDB twin hash-matches.
    """
    toks = _token_rows(df, text_col, id_col)
    tok_stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct(F.col("tok")).alias("n_distinct"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("idx")
    n_tok = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    bigrams = (
        toks.select(
            "doc_id",
            "idx",
            F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w_ord)).alias("bg"),
            n_tok.alias("n_tok"),
        )
        .where(F.col("idx") <= F.col("n_tok") - 2)
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bg_stats = bigrams.groupBy("doc_id").agg(
        F.max("cnt").alias("top_bg"), F.sum("cnt").alias("total_bg")
    )
    return (
        tok_stats.join(bg_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            F.round(
                F.col("top_bg").cast("double") / F.col("total_bg"), 6
            ).alias("top_bigram_frac"),
        )
    )


def gopher_repetition_battery(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """X32: the FULL Gopher/MassiveText repetition battery (Rae et al.
    2021, arXiv:2112.11446 A1.1) — the n-gram half of the repetition
    rules that :func:`repetition_signals` (dup-token / top-bigram) and
    the line measures only sample:

    - for n ∈ ``top_ns``: ``top_char_frac`` — characters covered by ALL
      occurrences of the single most frequent word n-gram, over the
      doc's total word characters (the paper thresholds n = 2, 3, 4 at
      0.20 / 0.18 / 0.16);
    - for n ∈ ``dup_ns``: ``dup_char_frac`` — characters covered by the
      REPEATED occurrences (count − 1 per distinct gram) of all
      duplicated n-grams (the common reproduction of the paper's
      "fraction of characters inside duplicate n-grams" — Dolma / NeMo
      Curator count the excess occurrences so a unique text scores 0;
      thresholds n = 5…10 at 0.15 → 0.10).

    Output is LONG format, one row per ``(doc_id, n)`` with the doc's
    token count ≥ n: ``(doc_id, n, top_gram, top_cnt, top_chars,
    dup_excess_chars, word_chars, top_char_frac, dup_char_frac)`` —
    integer numerators carried alongside the @6-rounded fractions, so
    every decision-bearing value has an exact-integer audit twin.  The
    top gram tie-breaks to the lexicographically SMALLEST among the
    most frequent (``min_by`` over ``(−cnt, gram)`` — a total order, so
    the pick is a pure function of the corpus).

    Execution: one token explode → ONE ``lead``-chain window pass
    builds every requested gram size simultaneously (max(n)−1 lead
    columns over the same (doc, idx) sort — winnowing's ordering; a
    window-free row-local rewrite — per-size ``transform`` +
    ``slice``/``concat_ws`` over the token array — measured slower,
    3.9 s vs 2.3 s at sf0.1: higher-order functions are
    CodegenFallback, so the per-element slice+concat chain runs
    interpreted and re-evaluates per gram) →
    the gram columns unpivot to ``(doc_id, n, gram)`` (≤ |ns| rows per
    position — the honest cost of the full battery; the paper's
    pipeline pays the same) → ONE (doc_id, n, gram) count aggregate
    (map-side partials) → per-(doc, n) reduction.  Gram character
    length is ``length(gram) − (n−1)`` (separator spaces excluded).
    No pairwise surface anywhere: a hot gram collapses map-side.
    """
    from pyspark.sql import Window

    ns = sorted(set(top_ns) | set(dup_ns))
    if not ns or ns[0] < 2:
        raise ValueError(f"gram sizes must be >= 2, got top={top_ns} dup={dup_ns}")
    max_n = ns[-1]
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("idx", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    n_tok = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    lead_cols = [F.lead("tok", k).over(w).alias(f"__l{k}") for k in range(1, max_n)]
    grammed = toks.select("doc_id", "idx", "tok", n_tok.alias("__n_tok"), *lead_cols)
    # stack the requested gram sizes: gram_n exists when idx ≤ n_tok − n
    stack_exprs = []
    for n in ns:
        parts = ["tok"] + [f"__l{k}" for k in range(1, n)]
        gram = F.concat_ws(" ", *[F.col(p) for p in parts])
        stack_exprs.append(
            F.when(F.col("idx") <= F.col("__n_tok") - F.lit(n), gram).alias(f"__g{n}")
        )
    staged = grammed.select("doc_id", *stack_exprs)
    long = staged.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(
                            F.col(f"__g{n}").isNotNull(),
                            F.struct(F.lit(n).alias("n"), F.col(f"__g{n}").alias("gram")),
                        )
                        for n in ns
                    ]
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    counts = long.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    gchars = F.length(F.col("gram")) - (F.col("n") - F.lit(1))
    per_dn = counts.groupBy("doc_id", "n").agg(
        F.min_by(
            F.struct(F.col("gram"), F.col("cnt"), gchars.alias("gc")),
            F.struct((-F.col("cnt")).alias("neg"), F.col("gram")),
        ).alias("top"),
        F.sum(
            F.when(F.col("cnt") >= 2, (F.col("cnt") - 1) * gchars).otherwise(0)
        )
        .cast("bigint")
        .alias("dup_excess_chars"),
    )
    word_chars = toks.groupBy("doc_id").agg(
        F.sum(F.length("tok")).cast("bigint").alias("word_chars")
    )
    top_chars = (F.col("top.cnt") * F.col("top.gc")).cast("bigint")
    return (
        per_dn.join(word_chars, "doc_id")
        .select(
            "doc_id",
            "n",
            F.col("top.gram").alias("top_gram"),
            F.col("top.cnt").alias("top_cnt"),
            top_chars.alias("top_chars"),
            "dup_excess_chars",
            "word_chars",
            F.round(top_chars.cast("double") / F.col("word_chars"), 6).alias(
                "top_char_frac"
            ),
            F.round(
                F.col("dup_excess_chars").cast("double") / F.col("word_chars"), 6
            ).alias("dup_char_frac"),
        )
    )


def gopher_repetition_sql(
    src: str,
    *,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> str:
    """DuckDB twin of :func:`gopher_repetition_battery`: same token rows
    (:func:`~pyspark_dist_explore_spark.operators.dedup._token_rows_sql`),
    same lead-chain grams, same min-by tie-break, same integer
    numerators.  ``src`` must yield ``(doc_id, text)``."""
    ns = sorted(set(top_ns) | set(dup_ns))
    max_n = ns[-1]
    lead_cols = ", ".join(
        f"lead(tok, {k}) OVER (PARTITION BY doc_id ORDER BY idx) AS l{k}"
        for k in range(1, max_n)
    )
    gram_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {n} AS n, "
        + (" || ' ' || ".join(["tok"] + [f"l{k}" for k in range(1, n)]))
        + f" AS gram FROM led WHERE idx <= n_tok - {n}"
        for n in ns
    )
    return f"""
WITH rb_t AS ({_token_rows_sql(src)}),
led AS (
  SELECT doc_id, idx, tok,
         count(*) OVER (PARTITION BY doc_id) AS n_tok,
         {lead_cols}
  FROM rb_t
),
grams AS ({gram_rows}),
cnts AS (
  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt,
         len(gram) - (n - 1) AS gc
  FROM grams GROUP BY doc_id, n, gram
),
tops AS (
  SELECT doc_id, n, gram AS top_gram, cnt AS top_cnt,
         CAST(cnt * gc AS BIGINT) AS top_chars
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                     ORDER BY cnt DESC, gram ASC) AS rn
        FROM cnts) r
  WHERE rn = 1
),
dups AS (
  SELECT doc_id, n,
         CAST(sum(CASE WHEN cnt >= 2 THEN (cnt - 1) * gc ELSE 0 END) AS BIGINT)
           AS dup_excess_chars
  FROM cnts GROUP BY doc_id, n
),
wc AS (
  SELECT doc_id, CAST(sum(len(tok)) AS BIGINT) AS word_chars
  FROM rb_t GROUP BY doc_id
)
SELECT tops.doc_id, tops.n, top_gram, top_cnt, top_chars, dup_excess_chars,
       word_chars,
       round(top_chars / word_chars, 6) AS top_char_frac,
       round(dup_excess_chars / word_chars, 6) AS dup_char_frac
FROM tops
JOIN dups ON tops.doc_id = dups.doc_id AND tops.n = dups.n
JOIN wc ON tops.doc_id = wc.doc_id
"""


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    lm_counts: DataFrame | None = None,
    alpha: float = 1.0,
    tf_rows: DataFrame | None = None,
    count_stats: bool = False,
) -> DataFrame:
    """CCNet-style perplexity filtering with a corpus-trained UNIGRAM
    LM: ``(doc_id, n_tok, mean_logprob, ppl)`` where ``mean_logprob``
    is the mean token log-probability under a Laplace-smoothed unigram
    model and ``ppl = exp(−mean_logprob)``.  Gibberish / boilerplate /
    wrong-language docs score far from the corpus bulk — filter by
    percentile, exactly how CCNet buckets head/middle/tail.

    ``lm_counts=`` (a ``(term, cnt)`` frame) trains the model on a
    REFERENCE corpus (e.g. a clean wiki snapshot) instead of ``df``
    itself — the realistic shape; unseen terms get the standard
    ``alpha / (N + alpha·V)`` mass.  Default trains on ``df`` (useful
    for outlier-vs-own-corpus scoring).

    Determinism at any parallelism: per-term log-probs are scaled to
    1e-6 fixed point (BIGINT) before the per-doc sum — the float sum
    of ``tf·logp`` would be partial-aggregation-order-dependent; the
    scaled-integer sum is exact, so the final doubles are bit-identical
    across engines and partitionings (same technique as
    ``functions/agg.scaled_sum``; DuckDB twin pinned in pytest).

    Scale shape: term frequencies (one shuffle, map-side partials) →
    term-keyed join against the LM (vocab-sized — broadcast when small,
    shuffle join otherwise; Spark's AQE picks) → one per-doc aggregate.
    The LM totals (N, V) are a 1-row aggregate, broadcast.

    ``count_stats=True`` appends two PURE-INTEGER columns to the same
    per-doc aggregate (no extra scan or join): ``u_terms`` (distinct
    terms in the doc) and ``u_mass`` (Σ tf·corpus_cnt — the total LM
    count mass the scoring join looked up).  These are exact BIGINTs on
    any engine — the driver-gate oracle hashes THEM instead of the
    ln/exp-derived doubles, whose last-ulp behavior varies across
    libm/DuckDB builds (the round-6 `text_perplexity` knife edge).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (Laplace smoothing mass), got {alpha}")
    if tf_rows is not None:
        # staged input (the minhash_neardup shingle_rows= pattern): a caller who
        # already materialized (doc_id, term, tf) — e.g. a checkpointed
        # token frame shared with the bigram scorer — skips the second
        # tokenize scan; plan shape change only, results identical
        missing = {"doc_id", "term", "tf"} - set(tf_rows.columns)
        if missing:
            raise ValueError(f"tf_rows missing column(s): {sorted(missing)}")
        tf = tf_rows
    else:
        tf = term_frequencies(df, text_col, id_col)
    if lm_counts is not None:
        # defensive re-aggregate: duplicate term rows in a caller-built
        # LM would fan out the scoring join instead of summing
        lm = lm_counts.groupBy("term").agg(F.sum("cnt").alias("cnt"))
    else:
        lm = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = lm.groupBy().agg(
        F.sum("cnt").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    # ln((cnt + alpha) / (N + alpha*V)), OOV -> cnt = 0; scaled to exact
    # 1e-6 fixed point BEFORE the order-dependent per-doc sum
    smoothed = (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(alpha)) / (
        F.col("__n").cast("double") + F.lit(alpha) * F.col("__v").cast("double")
    )
    slogp = F.round(F.log(smoothed) * F.lit(1e6)).cast("bigint")
    aggs = [
        F.sum("tf").alias("n_tok"),
        F.sum(F.col("tf") * F.col("__slogp")).alias("__ssum"),
    ]
    if count_stats:
        aggs += [
            F.count(F.lit(1)).alias("u_terms"),
            F.sum(F.col("tf") * F.col("__cnt")).cast("bigint").alias("u_mass"),
        ]
    scored = (
        tf.join(lm, "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "tf",
            slogp.alias("__slogp"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("__cnt"),
        )
        .groupBy("doc_id")
        .agg(*aggs)
    )
    return scored.select(
        *_mean_logprob_cols(["u_terms", "u_mass"] if count_stats else [])
    )


def _mean_logprob_cols(extra: Sequence[str]) -> list[Column]:
    """``(doc_id, n_tok, mean_logprob, ppl, *extra)`` over a scorer's
    per-doc ``(n_tok, __ssum)`` aggregate.  The mean lives on the exact
    1e-6 grid: rounding the BIGINT micro-logprob mean gives the same
    integer on both engines, where a round(x, 10) of the raw double
    quotient hits decimal-rounding knife edges on boundary values."""
    mean_e6 = F.round(
        F.col("__ssum").cast("double") / F.col("n_tok").cast("double")
    ).cast("bigint")
    mean_lp = mean_e6.cast("double") / F.lit(1e6)
    return [
        F.col("doc_id"),
        F.col("n_tok"),
        mean_lp.alias("mean_logprob"),
        F.round(F.exp(-mean_lp), 6).alias("ppl"),
        *[F.col(c) for c in extra],
    ]


def _bigram_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pairs_rows: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(toks, pairs)`` of the bigram scorers: ``toks`` holds ``(doc_id,
    idx, tok)`` for every non-empty normalized whitespace token and
    ``pairs`` adds ``prev``, the token before it in the same doc (a
    ``lag`` window keyed by doc, ordered by idx; NULL for the first).
    A staged ``pairs_rows`` frame with those four columns (a caller
    sharing one checkpointed pair frame across scorers) is used as
    given, skipping the tokenize scan and the window."""
    if pairs_rows is not None:
        missing = {"doc_id", "idx", "tok", "prev"} - set(pairs_rows.columns)
        if missing:
            raise ValueError(f"pairs_rows missing column(s): {sorted(missing)}")
        return pairs_rows.select("doc_id", "idx", "tok"), pairs_rows
    toks = _token_rows(df, text_col, id_col)
    w = Window.partitionBy("doc_id").orderBy("idx")
    pairs = toks.select("doc_id", "idx", "tok", F.lag("tok", 1).over(w).alias("prev"))
    return toks, pairs


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    lm_unigrams: DataFrame | None = None,
    lm_bigrams: DataFrame | None = None,
    alpha: float = 1.0,
    lam: float = 0.7,
    pairs_rows: DataFrame | None = None,
    count_stats: bool = False,
) -> DataFrame:
    """Interpolated BIGRAM-LM perplexity — the step from the crude
    unigram stand-in toward KenLM-style CCNet scoring: ``(doc_id,
    n_tok, mean_logprob, ppl)`` where each token is scored
    ``p(w_i | w_{i-1}) = λ·c(w_{i-1}w_i)/c(w_{i-1}) + (1−λ)·p_uni(w_i)``
    (first token and out-of-vocabulary contexts back off to the
    ``(1−λ)``-weighted Laplace unigram term, so every score is finite)
    and ``ppl = exp(−mean_logprob)``.  Word-salad with COMMON words in
    impossible ORDER — which unigram perplexity cannot see — scores
    far from the corpus bulk here (margin pinned in pytest).

    ``lm_unigrams=`` ``(term, cnt)`` / ``lm_bigrams=`` ``(prev, term,
    cnt)`` train on a REFERENCE corpus (pass both or neither); default
    trains on ``df`` itself.

    Determinism at any parallelism: the fixed-point trick of
    :func:`unigram_logprob_scores` — per-token log-probs scale to 1e-6
    BIGINT before the per-doc sum — plus the per-doc MEAN itself lives
    on the 1e-6 grid (integer-rounded micro-logprob), so results are
    bit-identical across engines and partitionings (DuckDB twin pinned
    in pytest).

    Scale shape: one posexplode + ``lag`` window keyed by (doc, idx)
    — the SAME shuffle shape as the winnowing/minhash gram builds —
    then term- and bigram-keyed LM joins (vocab-sized; AQE broadcasts
    when small) and one per-doc aggregate.  Nothing quadratic; the
    bigram LM is itself one hash aggregate with map-side partials.

    ``count_stats=True`` appends three PURE-INTEGER columns to the same
    per-doc aggregate (no extra scan or join): ``b_hits`` (Σ matched
    bigram corpus counts), ``b_matched`` (scored positions whose bigram
    exists in the LM), and ``ctx_mass`` (Σ context unigram counts).
    Exact BIGINTs on any engine — the driver-gate oracle hashes them
    instead of the libm-sensitive ln/exp doubles (see
    :func:`unigram_logprob_scores`).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (Laplace smoothing mass), got {alpha}")
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam must be in (0, 1) (interpolation weight), got {lam}")
    if (lm_unigrams is None) != (lm_bigrams is None):
        raise ValueError("pass BOTH lm_unigrams and lm_bigrams, or neither")
    toks, pairs = _bigram_pairs(df, text_col, id_col, pairs_rows)
    if lm_unigrams is not None:
        uni = lm_unigrams.groupBy("term").agg(F.sum("cnt").alias("cnt"))
        bi = lm_bigrams.groupBy("prev", "term").agg(F.sum("cnt").alias("bcnt"))
    else:
        uni = toks.groupBy(F.col("tok").alias("term")).agg(F.count(F.lit(1)).alias("cnt"))
        bi = (
            pairs.where(F.col("prev").isNotNull())
            .groupBy(F.col("prev"), F.col("tok").alias("term"))
            .agg(F.count(F.lit(1)).alias("bcnt"))
        )
    totals = uni.groupBy().agg(
        F.sum("cnt").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    ctx = uni.select(F.col("term").alias("prev"), F.col("cnt").alias("ctx_cnt"))
    scored_rows = (
        pairs.join(uni.withColumnRenamed("term", "tok"), "tok", "left")
        .join(ctx, "prev", "left")
        .join(bi.withColumnRenamed("term", "tok"), ["prev", "tok"], "left")
        .crossJoin(F.broadcast(totals))
    )
    # identical arithmetic structure on the DuckDB twin: lam * (bcnt /
    # ctx_cnt) + (1 - lam) * ((cnt + alpha) / (N + alpha * V));
    # first-token / OOV-context rows drop the bigram term entirely
    p_uni = (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(alpha)) / (
        F.col("__n").cast("double") + F.lit(alpha) * F.col("__v").cast("double")
    )
    p_bi = F.when(
        F.col("prev").isNotNull() & (F.coalesce(F.col("ctx_cnt"), F.lit(0)) > 0),
        F.lit(lam)
        * (
            F.coalesce(F.col("bcnt"), F.lit(0)).cast("double")
            / F.col("ctx_cnt").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    p = p_bi + F.lit(1.0 - lam) * p_uni
    slogp = F.round(F.log(p) * F.lit(1e6)).cast("bigint")
    aggs = [
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("__slogp").alias("__ssum"),
    ]
    if count_stats:
        aggs += [
            F.sum("__bcnt").cast("bigint").alias("b_hits"),
            F.sum("__bm").cast("bigint").alias("b_matched"),
            F.sum("__ctx").cast("bigint").alias("ctx_mass"),
        ]
    agg = (
        scored_rows.select(
            "doc_id",
            slogp.alias("__slogp"),
            F.coalesce(F.col("bcnt"), F.lit(0)).cast("bigint").alias("__bcnt"),
            F.when(F.col("bcnt").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("__bm"),
            F.coalesce(F.col("ctx_cnt"), F.lit(0)).cast("bigint").alias("__ctx"),
        )
        .groupBy("doc_id")
        .agg(*aggs)
    )
    return agg.select(
        *_mean_logprob_cols(
            ["b_hits", "b_matched", "ctx_mass"] if count_stats else []
        )
    )


def kn_bigram_logprob_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    discount: float = 0.75,
    alpha: float = 1.0,
    lm_bigrams: DataFrame | None = None,
    pairs_rows: DataFrame | None = None,
    count_stats: bool = False,
) -> DataFrame:
    """X54: KNESER-NEY smoothed bigram perplexity — the canonical
    smoothing for count-based LMs (Kneser & Ney 1995; Chen & Goodman
    1999's interpolated form), completing the X18 family beyond the
    fixed-λ interpolation of :func:`bigram_logprob_scores`.  Per token:

    - seen context (``c(u·) > 0``): ``p(w|u) = max(c(uw) − D, 0)/c(u·)
      + (D · N1+(u·)/c(u·)) · p_cont(w)`` — absolute discounting with
      the stolen mass routed through the CONTINUATION unigram;
    - unseen context (first token, OOV context): ``p_cont(w)``;
    - ``p_cont(w) = (N1+(·w) + α)/(B + α·V)`` — the continuation
      unigram ("how many distinct contexts does w follow?", the term
      that makes KN beat plain backoff on "San Francisco"-shaped
      words) with a Laplace floor so OOV tokens stay finite.

    ``N1+(u·)``/``N1+(·w)`` are distinct-successor/predecessor counts,
    ``B`` total bigram types, ``V`` the unigram vocab, ``c(u·)`` the
    BIGRAM-based context total (≠ unigram count: the last token of a
    doc heads no bigram).  ``lm_bigrams=`` ``(prev, term, cnt)`` trains
    on a reference corpus; default trains on ``df``.  Every quantity
    above derives from that one bigram table.

    Determinism: the house fixed-point trick — per-token log-probs
    round to the 1e-6 BIGINT grid before the per-doc sum, the per-doc
    mean itself lives on the grid (DuckDB twin pinned in pytest);
    ``count_stats=True`` appends three PURE-INTEGER columns from the
    same aggregate — ``kn_cont_mass`` (Σ N1+(·w)), ``kn_fert_mass``
    (Σ N1+(u·)), ``kn_ctx_mass`` (Σ c(u·)) — which pin the
    continuation/fertility/context-total aggregates on any engine
    build (these are what the driver gate hashes; the ln/exp doubles
    stay pytest-pinned per the round-7 libm lesson).

    Scale shape: the SAME one-explode + lag-window pair build as the
    interpolated scorer (``pairs_rows=`` shares a checkpointed frame),
    three vocab-sized aggregates off ONE bigram table (AQE broadcasts
    them back), one per-doc aggregate.  Nothing quadratic.
    """
    if not 0.0 <= discount < 1.0:
        raise ValueError(f"discount must be in [0, 1), got {discount}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (continuation floor), got {alpha}")
    toks, pairs = _bigram_pairs(df, text_col, id_col, pairs_rows)
    if lm_bigrams is not None:
        bi = lm_bigrams.groupBy("prev", "term").agg(F.sum("cnt").alias("bcnt"))
    else:
        bi = (
            pairs.where(F.col("prev").isNotNull())
            .groupBy(F.col("prev"), F.col("tok").alias("term"))
            .agg(F.count(F.lit(1)).alias("bcnt"))
        )
    # every smoothing statistic falls out of the ONE bigram table:
    # fertility N1+(u·) + context total c(u·) in one pass, continuation
    # N1+(·w) in another, (B, V) as a two-scalar broadcast
    fert = bi.groupBy("prev").agg(
        F.count(F.lit(1)).alias("nf"), F.sum("bcnt").alias("ctx")
    )
    cont = bi.groupBy(F.col("term").alias("tok")).agg(F.count(F.lit(1)).alias("nc"))
    totals = bi.groupBy().agg(
        F.count(F.lit(1)).alias("__b"),
        F.count_distinct(F.col("term")).alias("__v"),
    )
    scored_rows = (
        pairs.join(cont, "tok", "left")
        .join(fert, "prev", "left")
        .join(bi.withColumnRenamed("term", "tok"), ["prev", "tok"], "left")
        .crossJoin(F.broadcast(totals))
    )
    p_cont = (F.coalesce(F.col("nc"), F.lit(0)).cast("double") + F.lit(alpha)) / (
        F.col("__b").cast("double") + F.lit(alpha) * F.col("__v").cast("double")
    )
    ctx_d = F.col("ctx").cast("double")
    p = F.when(
        F.col("prev").isNotNull() & (F.coalesce(F.col("ctx"), F.lit(0)) > 0),
        F.greatest(
            F.coalesce(F.col("bcnt"), F.lit(0)).cast("double") - F.lit(discount),
            F.lit(0.0),
        )
        / ctx_d
        + (F.lit(discount) * F.col("nf").cast("double") / ctx_d) * p_cont,
    ).otherwise(p_cont)
    slogp = F.round(F.log(p) * F.lit(1e6)).cast("bigint")
    aggs = [
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("__slogp").alias("__ssum"),
    ]
    if count_stats:
        aggs += [
            F.sum("__nc").cast("bigint").alias("kn_cont_mass"),
            F.sum("__nf").cast("bigint").alias("kn_fert_mass"),
            F.sum("__ctx").cast("bigint").alias("kn_ctx_mass"),
        ]
    agg = (
        scored_rows.select(
            "doc_id",
            slogp.alias("__slogp"),
            F.coalesce(F.col("nc"), F.lit(0)).cast("bigint").alias("__nc"),
            F.when(F.col("prev").isNotNull(), F.coalesce(F.col("nf"), F.lit(0)))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("__nf"),
            F.when(F.col("prev").isNotNull(), F.coalesce(F.col("ctx"), F.lit(0)))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("__ctx"),
        )
        .groupBy("doc_id")
        .agg(*aggs)
    )
    return agg.select(
        *_mean_logprob_cols(
            ["kn_cont_mass", "kn_fert_mass", "kn_ctx_mass"] if count_stats else []
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    *,
    group_col: str | None = None,
    score_col: str = "ppl",
    id_col: str = "doc_id",
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """X33: CCNet-style head/middle/tail bucketing (Wenzek et al. 2020,
    arXiv:1911.00359) over a perplexity-scored frame (the output of
    :func:`unigram_logprob_scores` / :func:`bigram_logprob_scores`):
    append ``ppl_bucket`` ∈ {0 … len(cuts)} — 0 is the HEAD (lowest
    perplexity / most fluent), the last bucket the TAIL — per
    ``group_col`` (CCNet buckets per language) or globally.

    Scale shape: bucket thresholds are EXACT percentiles of the score
    via ONE ≤groups-row aggregate (``F.percentile`` — map-side partial
    digests, never a global sort), broadcast back, bucket = a row-local
    CASE.  This is the threshold form CCNet itself deploys (thresholds
    computed once on a sample, applied as constants to the stream); the
    whole corpus is never ordered.

    Boundary semantics: ``bucket = #{cut thresholds t with score > t}``
    — a doc exactly ON a threshold lands in the LOWER bucket (closed
    left).  With default cuts the buckets are the paper's tertiles.
    Deterministic given the scored frame: Spark's exact ``percentile``
    is order-independent, and the CASE is pure.  (The scores themselves
    are ln-derived doubles — class C, which is why this operator is
    pytest-twin-pinned rather than gate-registered; DuckDB's
    ``quantile_cont`` matches ``F.percentile``'s linear interpolation,
    the `summary_stats` precedent.)
    """
    if not cuts or any(not 0.0 < c < 1.0 for c in cuts) or list(cuts) != sorted(
        set(cuts)
    ):
        raise ValueError(
            f"cuts must be strictly increasing fractions in (0, 1), got {cuts}"
        )
    s = F.col(score_col)
    if group_col is None:
        th = scored.groupBy().agg(
            F.percentile(s, F.lit(list(cuts))).alias("__th")
        )
        joined = scored.crossJoin(F.broadcast(th))
    else:
        th = scored.groupBy(group_col).agg(
            F.percentile(s, F.lit(list(cuts))).alias("__th")
        )
        joined = scored.join(F.broadcast(th), group_col)
    bucket = sum_cols(
        [
            (s > F.element_at(F.col("__th"), i + 1)).cast("int")
            for i in range(len(cuts))
        ]
    )
    return joined.select(*scored.columns, bucket.alias("ppl_bucket"))


def perplexity_buckets_sql(
    src: str,
    *,
    group_col: str | None = None,
    score_col: str = "ppl",
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
) -> str:
    """DuckDB twin of :func:`perplexity_buckets`: ``quantile_cont``
    thresholds (same linear interpolation as Spark's exact
    ``percentile``), same closed-left bucket CASE.  ``src`` must yield
    the scored frame."""
    grp = group_col if group_col is not None else "1"
    cut_list = ", ".join(repr(c) for c in cuts)
    bucket = " + ".join(
        f"CASE WHEN {score_col} > th[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(len(cuts))
    )
    return f"""
WITH pb_src AS ({src}),
pb_th AS (
  SELECT {grp} AS g, quantile_cont({score_col}, [{cut_list}]) AS th
  FROM pb_src GROUP BY 1
)
SELECT pb_src.*, CAST({bucket} AS INT) AS ppl_bucket
FROM pb_src JOIN pb_th ON {grp} = pb_th.g
"""


def drop_repeated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """FineWeb-style LINE-level dedup: remove individual lines that
    appear in ≥ ``min_df`` distinct documents (nav bars, cookie
    banners, footers — boilerplate that survives document-level dedup
    because every page's BODY differs).  Output: ``(doc_id, text,
    n_lines_kept, n_lines_dropped)`` with ``text`` rebuilt from the
    surviving lines in original order (empty string when everything
    was boilerplate — the caller's quality/length filter then drops
    the husk).

    Lines are counted by their TRIMMED form (indentation shifts don't
    hide a duplicate) but rebuilt verbatim; blank lines are never
    counted as boilerplate (they'd match across every multi-paragraph
    doc) and always survive.

    Scale shape: explode lines (row-local) → doc-frequency hash
    aggregate keyed by line (map-side partials — the count is
    ``countDistinct(doc)`` so a line repeated WITHIN one doc is not
    boilerplate) → boilerplate-flag left join back → ONE per-doc
    conditional rebuild aggregate (kept-line rebuild, kept count, and
    total count in the same pass — the exploded frame is referenced
    exactly twice, the structural minimum, and an all-boilerplate doc
    keeps its husk row without a separate presence join).  Two hash
    shuffles total, no sort of the corpus.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (1 would drop every line), got {min_df}")
    lines = _line_rows(df, text_col, id_col, sep)
    common = (
        lines.where(F.col("key") != "")
        .groupBy("key")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .where(F.col("line_df") >= min_df)
        .select("key", F.lit(1).alias("__bp"))
    )
    flagged = lines.join(common, "key", "left")
    return _rebuild_lines(flagged, F.col("__bp").isNull(), sep)


def _line_rows(df: DataFrame, text_col: str, id_col: str, sep: str) -> DataFrame:
    """``(doc_id, pos, line, key)`` — one row per ``sep``-separated line,
    ``pos`` its position and ``key`` its trimmed form.  NULL text
    coalesces to '' so the doc survives as a one-empty-line husk
    instead of silently vanishing from the output."""
    import re as _re

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("pos", "line"),
    ).withColumn("key", F.trim(F.col("line")))


def _rebuild_lines(flagged: DataFrame, keep: Column, sep: str) -> DataFrame:
    """``(doc_id, text, n_lines_kept, n_lines_dropped)`` from
    :func:`_line_rows`-shaped rows: ONE per-doc aggregate rebuilds the
    text from the lines where ``keep`` holds, in ``pos`` order, and
    counts kept and dropped lines (an all-dropped doc keeps its husk
    row with empty text)."""
    rebuilt = flagged.groupBy("doc_id").agg(
        # collect_list skips NULLs, so dropped rows leave the rebuild
        # while still counting toward the per-doc total
        F.array_sort(
            F.collect_list(F.when(keep, F.struct("pos", "line")))
        ).alias("__s"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_lines_kept"),
        F.count(F.lit(1)).alias("__n_all"),
    )
    return rebuilt.select(
        "doc_id",
        F.concat_ws(sep, F.transform("__s", lambda r: r["line"])).alias("text"),
        "n_lines_kept",
        (F.col("__n_all") - F.col("n_lines_kept")).alias("n_lines_dropped"),
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    sep: str = "\n",
) -> DataFrame:
    """Gopher-style INTRA-document repetition removal: within each doc,
    keep only the FIRST occurrence of every (trimmed) line — the
    complement of :func:`drop_repeated_lines`, which removes lines
    repeated ACROSS docs.  Catches the other boilerplate axis: a page
    that repeats its own header/nav/promo block ten times keeps one
    copy.  Output: ``(doc_id, text, n_lines_kept, n_lines_dropped)``
    with surviving lines in original order; blank lines are never
    deduplicated (paragraph structure survives); NULL text coalesces to
    one empty line like the cross-doc operator.

    Scale shape: explode (row-local) → first-occurrence flag via a
    ``row_number`` window keyed by (doc, trimmed line) → ONE per-doc
    conditional rebuild aggregate.  Everything is keyed by doc (or doc
    + line), so the operator is a per-doc shuffle+sort with no global
    state at all — embarrassingly parallel at any corpus size.
    """
    w = Window.partitionBy("doc_id", "key").orderBy("pos")
    flagged = _line_rows(df, text_col, id_col, sep).withColumn(
        "__occ", F.row_number().over(w)
    )
    return _rebuild_lines(flagged, (F.col("key") == "") | (F.col("__occ") == 1), sep)


def span_grams(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """``(doc_id, start, gh)`` — every k-token window of the normalized
    token stream, hashed.  The staged input of
    :func:`drop_duplicate_spans` (pass it back via ``gram_rows=`` after
    persisting/landing it, exactly like ``dedup.shingle_rows``): the
    gram frame is consumed twice (duplicate detection + occurrence
    probe), so at corpus scale the caller materializes it once.

    Entirely row-local: the window enumeration is an array
    ``transform`` over ``sequence(0, n−k)`` with a ``slice`` per start —
    no explode-then-window shuffle, no sort; docs shorter than ``k``
    tokens contribute nothing (``sequence`` would count DOWN for a
    negative span, hence the guard filter).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (1 would flag every repeated token), got {k}")
    l = tokens(F.coalesce(F.col(text_col), F.lit("")))
    toks = df.select(F.col(id_col).alias("doc_id"), l.alias("l"))
    gh = F.transform(
        F.sequence(F.lit(0), F.size("l") - k),
        lambda i: F.md5(F.concat_ws(" ", F.slice("l", i + F.lit(1), F.lit(k)))),
    )
    return (
        toks.where(F.size("l") >= k)
        .select("doc_id", F.posexplode(gh).alias("start", "gh"))
    )


def drop_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    min_count: int = 2,
    gram_rows: DataFrame | None = None,
    rebuild: str = "normalized",
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN removal (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499), at k-token-gram granularity: any ``k``-token
    window of the normalized token stream that occurs ≥ ``min_count``
    times ACROSS THE WHOLE CORPUS (other docs or the same doc) is a
    duplicated span, and every token covered by any duplicated span is
    removed from every occurrence — the span-level complement of
    doc-level dedup (quotes, licence blocks, syndicated paragraphs
    survive doc dedup because the surrounding page differs) and of
    line-level dedup (a duplicated span need not align to lines).

    Output: ``(doc_id, text, n_tok_kept, n_tok_dropped, n_dup_spans)``
    — ``text`` rebuilt from the surviving tokens in original order (''
    when everything was duplicated — the caller's length filter drops
    the husk), ``n_dup_spans`` = number of duplicated window starts in
    the doc.  Docs with < ``k`` tokens are never touched.  Like the
    paper, ALL occurrences are removed (the canonical copy is gone
    too); keep-one semantics is doc-level dedup's job.

    ``rebuild``: ``'normalized'`` (default, the hash-oracle form)
    rebuilds from the lowercased/whitespace-collapsed token stream;
    ``'original'`` rebuilds from the ORIGINAL-case tokens — duplicate
    DETECTION still runs on the normalized grams (case variants of a
    span still collapse), but the surviving text keeps its casing.
    The two streams align position-for-position because normalization
    only lowercases and collapses whitespace, never splits or merges
    tokens.  (Exact inter-token whitespace is not preserved either
    way — tokens rejoin with single spaces.)

    Scale shape: grams are built row-local (see :func:`span_grams`) —
    no shuffle until the duplicate-detection hash aggregate on the gram
    hash (map-side partial counts); occurrence probe is a semi-join of
    the gram frame against the (much smaller) duplicated-gram set;
    covered positions explode only ``k ×`` the DUPLICATED occurrences
    (output-proportional, not corpus-proportional); the rebuild is ONE
    per-doc conditional aggregate over the token frame left-joined with
    the covered set.  Nothing sorts the corpus; everything keys on the
    gram hash or the doc id.  The gram frame is referenced twice —
    stage it via ``gram_rows=`` at scale.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2 (1 would drop every span), got {min_count}")
    if rebuild not in ("normalized", "original"):
        raise ValueError(f"rebuild must be 'normalized' or 'original', got {rebuild!r}")
    grams = gram_rows if gram_rows is not None else span_grams(df, text_col, id_col, k)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= min_count)
        .select("gh")
    )
    occ = grams.join(dup, "gh", "leftsemi")
    spans = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_spans"))
    cov = (
        occ.select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (k - 1))).alias("pos"),
        )
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    if rebuild == "original":
        # whitespace-collapse WITHOUT lowercasing: aligns 1:1 with the
        # normalized stream's positions (only case differs per token)
        stream = F.split(
            F.trim(
                F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), r"\s+", " ")
            ),
            " ",
        )
    else:
        stream = tokens(F.coalesce(F.col(text_col), F.lit("")))
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(stream).alias("pos", "tok"),
    )
    flagged = tok.join(cov, ["doc_id", "pos"], "left")
    keep = F.col("__dup").isNull()
    rebuilt = flagged.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.when(keep, F.struct("pos", "tok")))
        ).alias("__s"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_tok_kept"),
        F.count(F.lit(1)).alias("__n_all"),
    )
    return rebuilt.join(spans, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", F.transform("__s", lambda r: r["tok"])).alias("text"),
        "n_tok_kept",
        (F.col("__n_all") - F.col("n_tok_kept")).alias("n_tok_dropped"),
        F.coalesce(F.col("__n_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
    )


def drop_duplicate_spans_sql(src: str, k: int = 8, min_count: int = 2) -> str:
    """DuckDB twin of :func:`drop_duplicate_spans` — identical hash
    grams (md5 over the space-joined k-token slice of the SAME
    normalized stream), identical duplicate rule, identical rebuild —
    so the whole chain (gram build → corpus-wide duplicate detection →
    coverage → ordered rebuild) is hash-checkable.  ``src`` must yield
    ``(doc_id, text)``.  Returns the full per-doc result with the
    rebuilt text under ``span_text`` plus the count columns.
    """
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")
    return f"""
WITH sd_src AS ({src}),
sd_toklist AS (
  SELECT doc_id, string_split({norm}, ' ') AS l FROM sd_src
),
sd_grams AS (
  SELECT doc_id, g.i AS start,
         md5(array_to_string(l[g.i + 1 : g.i + {k}], ' ')) AS gh
  FROM sd_toklist, LATERAL (SELECT unnest(range(len(l) - {k} + 1)) AS i) g
  WHERE len(l) >= {k}
),
sd_dup AS (SELECT gh FROM sd_grams GROUP BY gh HAVING count(*) >= {min_count}),
sd_occ AS (SELECT doc_id, start FROM sd_grams SEMI JOIN sd_dup USING (gh)),
sd_spans AS (SELECT doc_id, count(*) AS n_dup_spans FROM sd_occ GROUP BY doc_id),
sd_cov AS (
  SELECT DISTINCT doc_id, start + u.i AS pos
  FROM sd_occ, LATERAL (SELECT unnest(range({k})) AS i) u
),
sd_tok AS (
  SELECT doc_id,
         generate_subscripts(l, 1) - 1 AS pos,
         unnest(l) AS tok
  FROM sd_toklist
),
sd_flag AS (
  SELECT t.doc_id, t.pos, t.tok, c.pos IS NOT NULL AS dropme
  FROM sd_tok t LEFT JOIN sd_cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
),
sd_reb AS (
  SELECT doc_id,
         COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT dropme), '') AS span_text,
         CAST(count(*) FILTER (WHERE NOT dropme) AS BIGINT) AS n_tok_kept,
         count(*) AS n_all
  FROM sd_flag GROUP BY doc_id
)
SELECT r.doc_id, r.span_text, r.n_tok_kept,
       CAST(r.n_all - r.n_tok_kept AS BIGINT) AS n_tok_dropped,
       CAST(COALESCE(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
FROM sd_reb r LEFT JOIN sd_spans s USING (doc_id)
"""


def corpus_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """One-scan corpus EDA card, per group (source/lang/shard): the
    first thing to run on a new crawl — ``(group, n_docs, n_empty,
    total_tokens, avg_tokens, avg_quality, n_unique, dup_frac)``.

    Everything row-local feeds ONE hash aggregate: normalized token
    count, the engine's [0,1] quality score, and the md5 content
    fingerprint (``dup_frac = 1 − distinct fingerprints / docs`` — the
    exact-dup rate *within each group*; run :func:`dedup.exact_dedup`
    to act on it).  ``group_col=None`` profiles the whole corpus as one
    ``'ALL'`` row.  The quality mean goes through an exact 1e-6
    fixed-point BIGINT sum (the score is already 6-dp-discretized), so
    results are bit-identical at any parallelism — DuckDB twin pinned
    in pytest.

    Scale: ONE scan, two exchanges (plan-pinned): the dedup shuffle
    keyed by (group, fingerprint) — map-side partials collapse repeats
    before it — then a ≤|groups|-row re-aggregate keyed by group.
    """
    # NULL text profiles as an empty doc (counted in n_empty, one ''
    # fingerprint) — without the coalesce its NULL token/quality/md5
    # values would silently drop out of every aggregate but n_docs
    t = F.coalesce(F.col(text_col), F.lit(""))
    norm = normalize_text(t)
    n_tok = n_tokens(t)
    _, _, quality = quality_ratio_exprs(t)
    g = (
        F.coalesce(F.col(group_col).cast("string"), F.lit(""))
        if group_col is not None
        else F.lit("ALL")
    )
    scored = df.select(
        g.alias("group"),
        n_tok.alias("__tok"),
        F.round(quality * F.lit(1e6)).cast("bigint").alias("__q6"),
        F.md5(norm).alias("__fp"),
        (norm == "").cast("int").alias("__empty"),
    )
    agg = scored.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__empty").cast("bigint").alias("n_empty"),
        F.sum("__tok").alias("total_tokens"),
        F.sum("__q6").alias("__qsum"),
        F.count_distinct("__fp").alias("n_unique"),
    )
    return agg.select(
        "group",
        "n_docs",
        "n_empty",
        "total_tokens",
        F.round(F.col("total_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "avg_tokens"
        ),
        F.round(
            F.col("__qsum").cast("double") / F.lit(1e6) / F.col("n_docs"), 6
        ).alias("avg_quality"),
        "n_unique",
        F.round(
            F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"), 6
        ).alias("dup_frac"),
    )


def vocabulary(df: DataFrame, text_col: str, *, size: int) -> DataFrame:
    """Vocabulary induction: the top-``size`` token types of the
    normalized whitespace stream by corpus frequency, ties broken
    lexicographically — ``(tok, cnt)``, the deterministic unigram-vocab
    step of a tokenizer-training / coverage-analysis pipeline (the
    tie-break makes the vocab a pure function of the corpus, so it is
    reproducible across engines and partitionings).

    Scale shape: one token explode feeds a type-count hash aggregate
    (map-side partials — the aggregate output is TYPE-sized, not
    corpus-sized), then ``orderBy(cnt desc, tok).limit(size)`` compiles
    to ``TakeOrderedAndProject`` — a per-partition top-``size`` heap
    merged on the driver, never a full sort of the type table.
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    toks = df.select(F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"))
    counts = (
        toks.where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(size)


def oov_stats(
    df: DataFrame,
    text_col: str,
    group_col: str,
    vocab: DataFrame,
    *,
    out_prefix: str = "",
) -> DataFrame:
    """Out-of-vocabulary coverage per group: ``(group, in_vocab_tokens,
    oov_tokens)`` — how much of each source/language the ``vocab``
    (from :func:`vocabulary`, or any ``(tok, …)`` reference frame such
    as a tokenizer's real vocab) actually covers.  The canonical
    pre-tokenizer-sizing question ("what OOV rate does a V-type vocab
    leave per language?"), and pure integer output — hash-oracle-safe.

    Scale shape: token explode (row-local) → BROADCAST left join with
    the vocab (V rows — driver-small by construction) → one per-group
    count aggregate with map-side partials.  No corpus shuffle except
    the final ≤|groups|-row aggregate.  Groups whose docs have zero
    tokens produce no row (left-join the caller's group list and
    coalesce to 0).
    """
    toks = df.select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("")).alias("group"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"),
    ).where(F.col("tok") != "")
    v = F.broadcast(vocab.select("tok").distinct().withColumn("__v", F.lit(1)))
    flagged = toks.join(v, "tok", "left")
    hit = F.col("__v").isNotNull()
    return flagged.groupBy("group").agg(
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias(f"{out_prefix}in_vocab_tokens"),
        F.sum(F.when(hit, 0).otherwise(1)).cast("bigint").alias(f"{out_prefix}oov_tokens"),
    )


def frequent_ngrams(
    df: DataFrame,
    text_col: str,
    *,
    n: int = 3,
    top_k: int = 20,
    group_col: str | None = None,
    min_count: int = 2,
) -> DataFrame:
    """X57: FREQUENT n-GRAM census — the boilerplate detector a crawl
    audit runs before choosing line/span-dedup thresholds: the
    ``top_k`` most frequent word n-grams per group ``(group, gram, cnt,
    rank)``, ties broken lexicographically (a pure function of the
    corpus — reproducible on any engine/partitioning).  The grams that
    surface are the cookie banners, navigation strings and license
    headers that X19/X23 line/span dedup should be pointed at.

    Scale shape: the gram build is ROW-LOCAL (an array-slice transform
    over the normalized token array — no posexplode+window pass), the
    count is one map-side-combined hash aggregate whose hot grams — the
    ones this census exists to find — collapse before the shuffle, and
    ``min_count`` prunes the singleton long tail (the overwhelming bulk
    of the type table) BEFORE the per-group top-k rank window, so the
    window sorts only repeated grams.  With ``group_col=None`` the
    single-group form compiles to ``TakeOrderedAndProject`` semantics
    via the same window (one 'ALL' partition of the pruned type table).

    Docs shorter than ``n`` tokens contribute nothing; NULL text and
    NULL groups follow the house conventions ('' group, empty doc).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from pyspark.sql import Window

    toks = word_tokens(F.col(text_col))
    # sequence(1, 0) DESCENDS in Spark (yields [1, 0]) — short docs need
    # an explicit empty-array branch, not a clamped upper bound
    n_starts = F.size(toks) - F.lit(n - 1)
    starts = F.when(n_starts > 0, F.sequence(F.lit(1), n_starts)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))
    g = (
        F.coalesce(F.col(group_col).cast("string"), F.lit(""))
        if group_col is not None
        else F.lit("ALL")
    )
    counts = (
        df.select(g.alias("group"), F.explode(grams).alias("gram"))
        .groupBy("group", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    w = Window.partitionBy("group").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
    )


def frequent_ngrams_sql(
    src: str,
    *,
    n: int = 3,
    top_k: int = 20,
    group_col: str | None = None,
    min_count: int = 2,
) -> str:
    """DuckDB twin of :func:`frequent_ngrams` — identical gram slices,
    counts, prune, and (cnt DESC, gram ASC) rank."""
    if n < 1 or top_k < 1 or min_count < 1:
        raise ValueError("n, top_k, min_count must all be >= 1")
    g = (
        f"COALESCE(CAST({group_col} AS VARCHAR), '')"
        if group_col is not None
        else "'ALL'"
    )
    return f"""
WITH fng_t AS (
  SELECT {g} AS "group", {word_tokens_sql("text")} AS l
  FROM ({src})
),
fng_g AS (
  SELECT "group", unnest(list_transform(
           generate_series(1, greatest(len(l) - {n - 1}, 0)),
           i -> array_to_string(l[i:i+{n - 1}], ' ')
         )) AS gram
  FROM fng_t
),
fng_c AS (
  SELECT "group", gram, CAST(count(*) AS BIGINT) AS cnt
  FROM fng_g GROUP BY 1, 2 HAVING count(*) >= {min_count}
)
SELECT * FROM (
  SELECT "group", gram, cnt,
         CAST(row_number() OVER (
           PARTITION BY "group" ORDER BY cnt DESC, gram ASC
         ) AS INT) AS rank
  FROM fng_c
) WHERE rank <= {top_k}
"""


def keyness_census(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str,
    *,
    top_k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """X61: CROSS-CORPUS KEYNESS census — the token types whose usage
    rates differ most between two corpora, ranked by the Pearson
    chi-square of each type's 2×2 contingency table (the corpus-
    linguistics "keyness" statistic; Dunning's G² needs logs, chi-square
    is the transcendental-free member of the family).  This is the audit
    a pipeline runs when two crawl snapshots, two domains, or pre-/post-
    filter corpora need a "what actually changed in the LANGUAGE"
    answer that doc-count diffs (X49) can't give: the top keyness terms
    of a snapshot diff are the new boilerplate, the new spam campaign,
    or the topic the filter just deleted.

    Returns ``(tok, cnt_a, cnt_b, chi2, enriched_in, rank)`` — the
    ``top_k`` types per direction (``enriched_in`` = ``'a'`` where the
    rate in A exceeds B's, else ``'b'``; rate-EQUAL types — chi2
    exactly 0 — are excluded, decided on exact DECIMAL(38,0) integer
    cross-products so the direction never hinges on float precision).
    ``chi2 = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))`` on doubles, rounded
    to the house 1e-6 grid; ranking orders by the ROUNDED value with a
    lexicographic tok tie-break, so the census is a pure function of
    the two corpora on any engine or partitioning.  ``min_count``
    prunes types with fewer than that many occurrences across both
    corpora (the singleton long tail that dominates the type table and
    can never reach significance).

    Scale shape: one token-type hash aggregate per corpus (map-side
    partials — output is TYPE-sized, not corpus-sized), a full-outer
    type equi-join, two 1-row totals broadcast in by cross join, and
    per-direction ``orderBy().limit(top_k)`` — TakeOrderedAndProject's
    per-partition heaps, never a full sort of the type table (the
    X20/X25 vocabulary discipline).  The final rank window runs over
    ≤ 2·top_k collected-size rows.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from pyspark.sql import Window

    def type_counts(df: DataFrame, out: str) -> DataFrame:
        toks = df.select(
            F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
        )
        return (
            toks.where(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    ca, cb = type_counts(df_a, "cnt_a"), type_counts(df_b, "cnt_b")
    joined = (
        ca.join(cb, "tok", "full_outer")
        .select(
            "tok",
            F.coalesce(F.col("cnt_a"), F.lit(0)).cast("bigint").alias("cnt_a"),
            F.coalesce(F.col("cnt_b"), F.lit(0)).cast("bigint").alias("cnt_b"),
        )
        .where(F.col("cnt_a") + F.col("cnt_b") >= min_count)
    )
    tot_a = ca.agg(F.sum("cnt_a").cast("bigint").alias("tot_a"))
    tot_b = cb.agg(F.sum("cnt_b").cast("bigint").alias("tot_b"))
    full = joined.crossJoin(F.broadcast(tot_a)).crossJoin(F.broadcast(tot_b))
    a, b = F.col("cnt_a").cast("double"), F.col("cnt_b").cast("double")
    na, nb = F.col("tot_a").cast("double"), F.col("tot_b").cast("double")
    n = na + nb
    # ad − bc over the margins collapses to a·Nb − b·Na; the double form
    # feeds chi2, the exact DECIMAL(38,0) form decides direction (BIGINT
    # products overflow at ~1e9-token corpora; 38 digits hold to ~1e19²)
    diff = a * nb - b * na
    dec = "decimal(38,0)"
    diff_exact = (
        F.col("cnt_a").cast(dec) * F.col("tot_b").cast(dec)
        - F.col("cnt_b").cast(dec) * F.col("tot_a").cast(dec)
    )
    denom = (a + b) * (n - a - b) * na * nb
    chi2 = F.round(F.when(denom > 0, n * diff * diff / denom).otherwise(F.lit(0.0)), 6)
    scored = (
        full.where(diff_exact != 0)
        .select(
            "tok",
            "cnt_a",
            "cnt_b",
            chi2.alias("chi2"),
            F.when(diff_exact > 0, F.lit("a")).otherwise(F.lit("b")).alias("enriched_in"),
        )
    )
    out = None
    w = Window.partitionBy("enriched_in").orderBy(F.col("chi2").desc(), F.col("tok").asc())
    for side in ("a", "b"):
        top = (
            scored.where(F.col("enriched_in") == side)
            .orderBy(F.col("chi2").desc(), F.col("tok").asc())
            .limit(top_k)
        )
        out = top if out is None else out.unionByName(top)
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


def keyness_census_sql(
    src_a: str,
    src_b: str,
    *,
    top_k: int = 50,
    min_count: int = 5,
) -> str:
    """DuckDB twin of :func:`keyness_census` — identical type counts,
    prune, DOUBLE chi-square with the same parenthesization (IEEE
    doubles agree bit-for-bit when the expression tree matches), exact
    128-bit HUGEINT direction (the Spark side's DECIMAL(38,0) twin —
    both exact past BIGINT range), and (chi2 DESC, tok ASC) per-direction
    rank.  ``src_a`` / ``src_b`` are relation expressions with a
    ``text`` column."""
    if top_k < 1 or min_count < 1:
        raise ValueError("top_k and min_count must be >= 1")
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")

    def cte(src: str, out: str) -> str:
        return f"""
  SELECT tok, CAST(count(*) AS BIGINT) AS {out} FROM (
    SELECT unnest(string_split({norm}, ' ')) AS tok FROM ({src})
  ) WHERE tok <> '' GROUP BY tok"""

    return f"""
WITH kc_a AS ({cte(src_a, "cnt_a")}),
kc_b AS ({cte(src_b, "cnt_b")}),
kc_j AS (
  SELECT COALESCE(kc_a.tok, kc_b.tok) AS tok,
         CAST(COALESCE(cnt_a, 0) AS BIGINT) AS cnt_a,
         CAST(COALESCE(cnt_b, 0) AS BIGINT) AS cnt_b
  FROM kc_a FULL OUTER JOIN kc_b ON kc_a.tok = kc_b.tok
  WHERE COALESCE(cnt_a, 0) + COALESCE(cnt_b, 0) >= {min_count}
),
kc_t AS (
  SELECT (SELECT CAST(sum(cnt_a) AS BIGINT) FROM kc_a) AS tot_a,
         (SELECT CAST(sum(cnt_b) AS BIGINT) FROM kc_b) AS tot_b
),
kc_s AS (
  SELECT tok, cnt_a, cnt_b,
         round(CASE WHEN (CAST(cnt_a AS DOUBLE) + CAST(cnt_b AS DOUBLE))
                       * ((CAST(tot_a AS DOUBLE) + CAST(tot_b AS DOUBLE))
                          - CAST(cnt_a AS DOUBLE) - CAST(cnt_b AS DOUBLE))
                       * CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE) > 0
           THEN (CAST(tot_a AS DOUBLE) + CAST(tot_b AS DOUBLE))
                * (CAST(cnt_a AS DOUBLE) * CAST(tot_b AS DOUBLE)
                   - CAST(cnt_b AS DOUBLE) * CAST(tot_a AS DOUBLE))
                * (CAST(cnt_a AS DOUBLE) * CAST(tot_b AS DOUBLE)
                   - CAST(cnt_b AS DOUBLE) * CAST(tot_a AS DOUBLE))
                / ((CAST(cnt_a AS DOUBLE) + CAST(cnt_b AS DOUBLE))
                   * ((CAST(tot_a AS DOUBLE) + CAST(tot_b AS DOUBLE))
                      - CAST(cnt_a AS DOUBLE) - CAST(cnt_b AS DOUBLE))
                   * CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE))
           ELSE 0.0 END, 6) AS chi2,
         CASE WHEN CAST(cnt_a AS HUGEINT) * CAST(tot_b AS HUGEINT)
                   > CAST(cnt_b AS HUGEINT) * CAST(tot_a AS HUGEINT)
              THEN 'a' ELSE 'b' END AS enriched_in
  FROM kc_j, kc_t
  WHERE CAST(cnt_a AS HUGEINT) * CAST(tot_b AS HUGEINT)
        <> CAST(cnt_b AS HUGEINT) * CAST(tot_a AS HUGEINT)
)
SELECT * FROM (
  SELECT tok, cnt_a, cnt_b, chi2, enriched_in,
         CAST(row_number() OVER (
           PARTITION BY enriched_in ORDER BY chi2 DESC, tok ASC
         ) AS INT) AS rank
  FROM kc_s
) WHERE rank <= {top_k}
"""


def vocabulary_oov_sql(src: str, group_col: str, size: int) -> str:
    """DuckDB twin of :func:`vocabulary` + :func:`oov_stats` over one
    relation: same normalized token stream, same (cnt DESC, tok ASC)
    top-``size`` vocab, same per-group integer coverage counts.
    ``src`` must yield ``({group_col}, text)``.
    """
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")
    return f"""
WITH vo_src AS ({src}),
vo_toks AS (
  SELECT COALESCE(CAST({group_col} AS VARCHAR), '') AS "group",
         unnest(string_split({norm}, ' ')) AS tok
  FROM vo_src
),
vo_t AS (SELECT "group", tok FROM vo_toks WHERE tok <> ''),
vo_vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM vo_t GROUP BY tok
  ) ORDER BY cnt DESC, tok ASC LIMIT {size}
),
vo_out AS (
  SELECT t."group",
         CAST(count(*) FILTER (WHERE v.tok IS NOT NULL) AS BIGINT) AS in_vocab_tokens,
         CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS oov_tokens
  FROM vo_t t LEFT JOIN vo_vocab v ON t.tok = v.tok
  GROUP BY t."group"
)
SELECT * FROM vo_out
"""


# --------------------------------------------------------------------------
# X40: BPE merge induction (Sennrich et al. 2016, arXiv:1508.07909) —
# the subword-tokenizer learning step that completes the vocabulary/OOV
# story: greedy iterative pair merging over the corpus word-frequency
# table.  Deterministic by construction ((count DESC, pair ASC)
# tie-break), so the merge table is a pure function of the corpus and
# hash-checks cross-engine (integer counts + strings, ORACLES.md
# class A).
# --------------------------------------------------------------------------

#: symbol brackets for the BPE segmentation encoding: every symbol is
#: wrapped \\x01…\\x02, so a merge is ONE literal string replacement
#: (leftmost non-overlapping in Spark, DuckDB, and Python alike) with
#: no boundary-sharing ambiguity — the lookbehind trick the classic
#: regex form needs is unavailable in RE2 (DuckDB), brackets are not
BPE_L = "\x01"
BPE_R = "\x02"
_BPE_SEP = BPE_R + BPE_L

#: the sentinel chars are IN-BAND — real crawl text can contain
#: \\x01/\\x02 (and \\x03, the fertility twin's missing-step pivot), and
#: a token carrying one would corrupt symbol boundaries differently per
#: engine.  Every BPE entry point therefore strips exactly these three
#: code points from the token stream BEFORE char-wrapping, in Spark,
#: DuckDB, and the segment expression alike (r10 advisor catch).
_BPE_CTRL_RE = "[\x01\x02\x03]"
_BPE_CTRL_SQL = "'[' || chr(1) || chr(2) || chr(3) || ']'"


def _bpe_clean(col: Column) -> Column:
    """Strip the in-band sentinel code points from a token column."""
    return F.regexp_replace(col, _BPE_CTRL_RE, "")


def _bpe_clean_words_sql(norm: str) -> str:
    """DuckDB list of sentinel-stripped non-empty tokens from a
    normalized-text expression — the twin of ``filter(transform(tokens,
    _bpe_clean), != '')``."""
    return (
        f"list_filter(list_transform(string_split({norm}, ' '), "
        f"x -> regexp_replace(x, {_BPE_CTRL_SQL}, '', 'g')), x -> x <> '')"
    )


def _bpe_render(enc: str) -> tuple[str, str]:
    """(readable pair "a b", readable merged "ab") from an encoded pair."""
    syms = enc[1:-1].split(_BPE_SEP)
    return " ".join(syms), "".join(syms)


def bpe_word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """The (word, freq) TYPE TABLE — the only corpus-sized work in BPE
    induction (token explode → map-side-combined count; output is
    type-count-sized, i.e. driver-small for any natural corpus).  This
    is also the interchange artifact for training a production-vocab
    tokenizer OUTSIDE Spark: land it, train single-machine (HF
    tokenizers / SentencePiece both accept word-frequency input), and
    bring the merge table back for :func:`bpe_encode` — the path a
    32k-vocab caller takes instead of 32k sequential ``bpe_learn``
    rounds.  Sentinel code points are stripped per the module contract.
    """
    return (
        df.select(
            F.explode(
                F.transform(
                    tokens(F.coalesce(F.col(text_col), F.lit(""))), _bpe_clean
                )
            ).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _bpe_learn_driver(
    encs: "list[tuple[str, int]]", *, k: int, batch_merges: int
) -> "list[tuple[int, str, str, int]]":
    """The :func:`bpe_learn` greedy loop in driver Python over the
    already-encoded ``(enc, freq)`` type rows — semantics mirrored
    term for term from the Spark loop (same adjacent-pair counts, the
    same ``cnt >= 2`` floor, the same over-fetch/conflict-set batching,
    ``(cnt DESC, pair ASC)`` pick — Python's code-point string order ==
    Spark's UTF-8 binary collation — and left-to-right non-overlapping
    ``str.replace`` == ``F.replace``); pytest pins the two fits equal
    row-for-row."""
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < k:
        want = min(batch_merges, k - len(merges))
        counts: dict[str, int] = {}
        for enc, freq in encs:
            syms = enc[1:-1].split(_BPE_SEP)
            for a, b in zip(syms, syms[1:]):
                pr = f"{BPE_L}{a}{BPE_R}{BPE_L}{b}{BPE_R}"
                counts[pr] = counts.get(pr, 0) + freq
        top = sorted(
            ((cnt, pr) for pr, cnt in counts.items() if cnt >= 2),
            key=lambda t: (-t[0], t[1]),
        )[: want if want == 1 else 8 * want]
        if not top:
            break
        picked: list[tuple[str, int]] = []
        used: set[str] = set()
        for cnt, pr in top:
            syms_in = pr[1:-1].split(_BPE_SEP)
            ss = set(syms_in) | {"".join(syms_in)}
            if used & ss:
                continue
            picked.append((pr, cnt))
            used |= ss
            if len(picked) >= want:
                break
        for pr, cnt in picked:
            pair, merged = _bpe_render(pr)
            merges.append((len(merges), pair, merged, int(cnt)))
        encs = [
            (
                _apply_replaces(enc, picked),
                freq,
            )
            for enc, freq in encs
        ]
    return merges


#: rounds between ``localCheckpoint``s of the Spark BPE fit state — bounds
#: the lineage depth of the merge loop
BPE_CHECKPOINT_INTERVAL = 16


def _apply_replaces(enc: str, picked: "list[tuple[str, int]]") -> str:
    for pr, _cnt in picked:
        enc = enc.replace(pr, pr.replace(_BPE_SEP, ""))
    return enc


def bpe_learn(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 8,
    max_merges: int = 512,
    batch_merges: int = 1,
    word_freqs: DataFrame | None = None,
    fit: str = "spark",
    max_driver_types: int = 1 << 20,
) -> DataFrame:
    """Learn ``k`` BPE merges from the corpus: ``(step, pair, merged,
    cnt)`` with ``pair`` the two symbols space-joined, ``merged`` their
    concatenation, ``cnt`` the corpus-frequency-weighted count of
    adjacent occurrences at the moment of the merge.  Fewer rows than
    ``k`` when the corpus runs out of repeated pairs.

    **Practical k ceiling**: the greedy pick is inherently sequential —
    each merge changes the next pair count — so this is ``k`` Spark
    job rounds BY CONSTRUCTION (each a type-table-sized aggregate plus
    a 1-row collect).  At k≈8–512 that is seconds-to-minutes; a
    production 32 000-merge vocab would be 32 000 driver round-trips —
    hours of scheduler overhead regardless of cluster size.  The guard
    ``max_merges`` (default 512) raises rather than letting a vocab-
    sized ``k`` through silently; callers who understand the cost pass
    a higher ``max_merges`` explicitly.  The right tool above the
    ceiling is a single-machine trainer over the (type, freq) table —
    which IS driver-sized: export ``bpe_word_freqs`` and train locally.

    Scale shape: the ONLY corpus-sized work is the word-frequency
    aggregate (token explode → map-side-combined count; output is
    TYPE-sized).  Each of the ``k`` iterations then runs two narrow
    jobs over the type table — an adjacent-pair count (explode + hash
    aggregate, pairs ≤ chars per type) and a row-local literal
    replacement — with the state ``localCheckpoint``-ed every
    ``BPE_CHECKPOINT_INTERVAL`` rounds and the superseded state released
    (the :func:`~pyspark_dist_explore_spark.operators.dedup.
    neardup_clusters` loop discipline; between checkpoints the pending
    replaces collapse into one projection, so lineage depth stays ≤ the
    interval at a production k of tens of thousands of merges while a
    small-k call pays no extra jobs).  The per-iteration top-pair pick
    is a ``TakeOrderedAndProject`` 1-row collect — the algorithm's
    inherent sequential dependency (each merge changes the next pair
    count), bounded at one metadata row per step.  The merge TABLE is
    the model: k rows, driver-sized by definition.

    ``batch_merges`` (default 1 keeps the exact sequential greedy the
    gate hash-checks): apply up to ``b`` SYMBOL-DISJOINT top pairs per
    round in one projection, lifting the practical k ceiling ~b× (k
    merges in ~k/b driver round-trips).
    Disjointness (no symbol shared between any two picked pairs) makes
    the in-round replacements commute — a merge of (a,b) can neither
    create nor destroy occurrences of (c,d) when {a,b}∩{c,d}=∅, so
    each recorded count is exact AT ROUND START.  The learned table is
    a standard batched-greedy APPROXIMATION of sequential BPE (pair
    ranks that would change mid-round are only refreshed between
    rounds); recorded counts are the round-start counts.

    ``word_freqs=`` feeds a precomputed ``(w, freq)`` type table — the
    :func:`unigram_seed_candidates` convention, so callers fitting BOTH
    tokenizers (the sampling_splits gate) share ONE corpus scan.

    ``fit='driver'`` runs the identical greedy loop in driver Python
    over the COLLECTED type table instead of ``k`` Spark job rounds —
    the single-machine move the paragraph above recommends, made exact:
    the char-wrap encoding still renders through the Spark expression
    (one job), and the Python loop replays the very same integer pair
    counts, ``(cnt DESC, pair ASC)`` pick (UTF-8 byte order ==
    code-point order, so Python's string sort matches Spark's binary
    collation), conflict sets, and left-to-right non-overlapping literal
    replaces — pytest pins driver == spark row-for-row on real data.
    The collect is bounded by ``max_driver_types`` (default 1M types;
    beyond it the fit refuses and the caller stays on ``fit='spark'``,
    whose per-round state is never collected).  The win is wall-clock,
    not semantics: k merges cost ONE type-table job instead of k
    scheduler round-trips (the sample-sliced gate fit drops ~2.5 s →
    ~0.3 s).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > max_merges:
        raise ValueError(
            f"k={k} exceeds max_merges={max_merges}: bpe_learn runs k "
            "SEQUENTIAL Spark job rounds (the greedy pick is the "
            "algorithm's inherent dependency), so a vocab-sized k means "
            "thousands of driver round-trips. For a production vocab, "
            "export bpe_word_freqs(df, text_col) — the type table is "
            "driver-sized — and train single-machine; or pass an "
            "explicit max_merges if you accept k rounds."
        )
    if batch_merges < 1:
        raise ValueError(f"batch_merges must be >= 1, got {batch_merges}")
    if fit not in ("spark", "driver"):
        raise ValueError(f"fit must be 'spark' or 'driver', got {fit!r}")
    from pyspark_dist_explore_spark.operators.dedup import (
        _release_local_checkpoint,
    )

    spark = df.sparkSession
    enc0 = F.regexp_replace(F.col("w"), "(.)", BPE_L + "$1" + BPE_R)
    wf = word_freqs if word_freqs is not None else bpe_word_freqs(df, text_col)
    if fit == "driver":
        rows = wf.select(
            enc0.alias("enc"), "freq"
        ).collect()  # bounded-collect: the (type, freq) table, guarded below
        if len(rows) > max_driver_types:
            raise ValueError(
                f"type table has {len(rows)} rows > max_driver_types="
                f"{max_driver_types}: fit='driver' collects it — use "
                "fit='spark' (never collects per-round state) or raise "
                "the guard explicitly for a corpus you know is sampled"
            )
        merges = _bpe_learn_driver(
            [(r["enc"], int(r["freq"])) for r in rows],
            k=k,
            batch_merges=batch_merges,
        )
        return spark.createDataFrame(
            merges, "step int, pair string, merged string, cnt bigint"
        )
    types = wf.select(enc0.alias("enc"), "freq").localCheckpoint()
    import re as _re

    sep_re = _re.escape(_BPE_SEP)
    merges: list[tuple[int, str, str, int]] = []
    anchor = types  # last checkpointed state (owns storage blocks)
    since_ckpt = 0
    try:
        while len(merges) < k:
            want = min(batch_merges, k - len(merges))
            syms = F.split(
                F.substring(F.col("enc"), 2, F.length("enc") - 2), sep_re
            )
            n = F.size(syms)
            pairs = F.zip_with(
                F.slice(syms, 1, n - 1),
                F.slice(syms, 2, n - 1),
                lambda a, b: F.concat(
                    F.lit(BPE_L), a, F.lit(BPE_R), F.lit(BPE_L), b, F.lit(BPE_R)
                ),
            )
            # over-fetch 8x: symbol conflicts skip candidates, and the
            # collect stays a model-sized TakeOrdered either way
            top = (
                types.select(F.explode(pairs).alias("pr"), "freq")
                .groupBy("pr")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
                .where(F.col("cnt") >= 2)
                .orderBy(F.col("cnt").desc(), F.col("pr").asc())
                .limit(want if want == 1 else 8 * want)
                .collect()  # bounded-collect: the per-round greedy pick (1 row sequential, <=8b batched)
            )
            if not top:
                break
            picked: list[tuple[str, int]] = []
            used: set[str] = set()
            for r in top:
                pr, cnt = r["pr"], int(r["cnt"])
                syms_in = pr[1:-1].split(_BPE_SEP)
                # conflict set includes the pick's MERGED symbol too: a
                # later pick consuming it (e.g. (a,b)->"ab" then
                # ("ab",x)) would match sites the round-start count
                # never saw once the chained replace creates them
                ss = set(syms_in) | {"".join(syms_in)}
                if used & ss:
                    continue  # interacts with an earlier in-round pick
                picked.append((pr, cnt))
                used |= ss
                if len(picked) >= want:
                    break
            enc_col = F.col("enc")
            for pr, cnt in picked:
                pair, merged = _bpe_render(pr)
                merges.append((len(merges), pair, merged, cnt))
                enc_col = F.replace(
                    enc_col, F.lit(pr), F.lit(pr.replace(_BPE_SEP, ""))
                )
            types = types.withColumn("enc", enc_col)
            since_ckpt += 1
            if since_ckpt >= BPE_CHECKPOINT_INTERVAL and len(merges) < k:
                types = types.localCheckpoint()
                _release_local_checkpoint(anchor)
                anchor = types
                since_ckpt = 0
    finally:
        _release_local_checkpoint(anchor)
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, cnt bigint"
    )


def bpe_merges_sql(src: str, *, k: int = 8) -> str:
    """DuckDB twin of :func:`bpe_learn` — same char-wrap encoding, same
    pair count, same (cnt DESC, pair ASC) pick, same literal-replace
    apply, unrolled to ``k`` chained CTE rounds (SQL has no loop; the
    generator writes one ``pairs → top-1 → apply`` block per step).
    ``src`` must yield ``(doc_id, text)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")
    L, R = "chr(1)", "chr(2)"
    sep = f"{R} || {L}"
    ctes = [
        f"""bp_t0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS enc,
         CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest({_bpe_clean_words_sql(norm)}) AS w
    FROM ({src}) z
  ) GROUP BY w
)"""
    ]
    tops = []
    for i in range(k):
        ctes.append(
            f"""bp_p{i} AS MATERIALIZED (
  SELECT pr, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq,
           unnest(list_transform(generate_series(1, len(syms) - 1),
               j -> {L} || syms[j] || {R} || {L} || syms[j + 1] || {R})) AS pr
    FROM (SELECT freq,
                 string_split(substr(enc, 2, len(enc) - 2), {sep}) AS syms
          FROM bp_t{i}) s
  ) GROUP BY pr HAVING CAST(sum(freq) AS BIGINT) >= 2
)""",
        )
        ctes.append(
            f"bp_top{i} AS MATERIALIZED (SELECT pr, cnt FROM bp_p{i} "
            f"ORDER BY cnt DESC, pr ASC LIMIT 1)"
        )
        if i + 1 < k:
            ctes.append(
                f"""bp_t{i + 1} AS MATERIALIZED (
  SELECT CASE WHEN (SELECT count(*) FROM bp_top{i}) = 0 THEN enc
         ELSE replace(enc, (SELECT pr FROM bp_top{i}),
                      replace((SELECT pr FROM bp_top{i}), {sep}, '')) END AS enc,
         freq
  FROM bp_t{i}
)"""
            )
        render = (
            f"replace(replace(replace(pr, {sep}, ' '), {L}, ''), {R}, '')"
        )
        tops.append(
            f"SELECT {i} AS step, {render} AS pair, "
            f"replace({render}, ' ', '') AS merged, cnt FROM bp_top{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(tops)


def bpe_segment_expr(word: Column, merges: Sequence[tuple[str, str]]) -> Column:
    """Segment a single-word column with an ORDERED merge list (the
    ``(pair, merged)`` readable forms from :func:`bpe_learn`): returns
    the ``array<string>`` of subword symbols.  Pure row-local expression
    — the merge list is a driver-side model artifact (k literals), so
    encoding is a chain of ``k`` literal replacements inside whole-stage
    codegen: no join, no shuffle, no Python."""
    e = F.regexp_replace(_bpe_clean(word), "(.)", BPE_L + "$1" + BPE_R)
    for pair, _merged in merges:
        enc_pair = BPE_L + pair.replace(" ", _BPE_SEP) + BPE_R
        e = F.replace(e, F.lit(enc_pair), F.lit(enc_pair.replace(_BPE_SEP, "")))
    import re as _re

    return F.split(F.substring(e, 2, F.length(e) - 2), _re.escape(_BPE_SEP))


def bpe_encode_sql(src: str, merges: Sequence[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`bpe_encode` — the same char-wrap encoding
    and ordered literal-replace chain per word, summed per doc.
    ``src`` must yield ``(doc_id, text)``; ``merges`` is the readable
    ``(pair, merged)`` list.  Renders the merge applications as a
    nested ``replace`` chain inside a ``list_transform`` lambda, so the
    two engines execute the identical fold."""
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")
    L, R = "chr(1)", "chr(2)"
    sep = f"{R} || {L}"
    e = f"regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')"
    for pair, _merged in merges:
        enc_pair = "'" + (BPE_L + pair.replace(" ", _BPE_SEP) + BPE_R).replace(
            "'", "''"
        ) + "'"
        merged_lit = "'" + (BPE_L + pair.replace(" ", "") + BPE_R).replace(
            "'", "''"
        ) + "'"
        e = f"replace({e}, {enc_pair}, {merged_lit})"
    n_sub = f"len(string_split(substr({e}, 2, len({e}) - 2), {sep}))"
    return f"""
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(list_sum(list_transform(ws, w -> {n_sub})), 0) AS BIGINT)
         AS n_subwords
FROM (
  SELECT doc_id, {_bpe_clean_words_sql(norm)} AS ws
  FROM ({src}) z
)
"""


def bpe_fertility_sql(src: str, group_col: str, *, k: int = 8) -> str:
    """DuckDB twin of the learn→encode CHAIN: learn the merge table
    with :func:`bpe_merges_sql`, then apply those LEARNED merges (no
    literals — the replace chain's pattern/replacement pairs come from
    the merge table itself, pivoted onto one row and captured by the
    per-word lambda) and roll fertility up per ``group_col``:
    ``(grp, n_tokens, n_subwords)`` integer sums.  Missing steps (the
    corpus ran out of repeated pairs) pivot to a ``chr(3)`` sentinel
    whose bracketed pattern cannot occur, so the chain degrades to the
    same no-op as Spark's shorter collected merge list.  ``src`` must
    yield ``(doc_id, {group_col}, text)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")
    L, R = "chr(1)", "chr(2)"
    sep = f"{R} || {L}"
    pivots = ", ".join(
        f"{L} || replace(COALESCE(max(CASE WHEN step = {i} THEN pair END), chr(3)),"
        f" ' ', {sep}) || {R} AS ep{i},\n"
        f"       {L} || replace(COALESCE(max(CASE WHEN step = {i} THEN pair END), chr(3)),"
        f" ' ', '') || {R} AS ml{i}"
        for i in range(k)
    )
    e = "regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')"
    for i in range(k):
        e = f"replace({e}, ep{i}, ml{i})"
    n_sub = f"len(string_split(substr({e}, 2, len({e}) - 2), {sep}))"
    # f-string, NOT str.format: a caller's src legitimately contains
    # braces (regexp literals, C4's '{' rule) that .format would choke on
    merges = bpe_merges_sql(f"SELECT doc_id, text FROM ({src}) zz", k=k)
    return f"""
WITH bf_m AS MATERIALIZED ({merges}),
bf_mm AS (SELECT {pivots} FROM bf_m),
bf_dw AS (
  SELECT {group_col} AS grp,
         {_bpe_clean_words_sql(norm)} AS ws
  FROM ({src}) z
)
SELECT grp,
       CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
       CAST(sum(COALESCE(list_sum(list_transform(ws, w -> {n_sub})), 0)) AS BIGINT)
         AS n_subwords
FROM bf_dw CROSS JOIN bf_mm
GROUP BY grp
"""


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: Sequence[tuple[str, str]] | DataFrame,
    *,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Apply a learned merge table to a corpus: ``(doc_id, n_tokens,
    n_subwords)`` per document — the tokenizer-fertility card
    (subwords per word is THE sizing signal a BPE vocab is graded on;
    :func:`oov_stats` grades the complementary coverage axis).
    ``merges``: the :func:`bpe_learn` result frame (collected — k rows,
    it is the model) or its ``(pair, merged)`` list.  Row-local: one
    scan, zero shuffle.  ``extra_cols`` pass through untouched (e.g. a
    grouping column for a per-source fertility rollup)."""
    if isinstance(merges, DataFrame):
        merges = [
            (r["pair"], r["merged"])
            for r in merges.orderBy("step").collect()  # bounded-collect: k-row model artifact
        ]
    toks = F.filter(
        F.transform(tokens(F.coalesce(F.col(text_col), F.lit(""))), _bpe_clean),
        lambda x: x != "",
    )
    per_word = F.transform(toks, lambda w: F.size(bpe_segment_expr(w, merges)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.aggregate(
            per_word, F.lit(0), lambda acc, x: acc + x
        ).cast("bigint").alias("n_subwords"),
    )


# --------------------------------------------------------------------------
# X48: unigram-LM tokenizer induction (Kudo 2018 / SentencePiece
# unigram) — the sibling of X40's BPE over the same word-frequency
# table.  Spark does the two corpus/type-sized stages (ONE word-freq
# aggregate; Arrow-batched Viterbi passes over the TYPE table); the
# transcendental (log2 of integer counts) is computed ONCE driver-side
# into fixed-point INTEGER piece costs, so every cross-engine-checkable
# artifact (seed counts, M-step counts, segmentations) is exact integer
# arithmetic — the same discipline that keeps ln/exp out of the gate
# (ORACLES.md allowlist).
# --------------------------------------------------------------------------


def unigram_seed_candidates(
    df: DataFrame,
    text_col: str,
    *,
    max_piece_len: int = 4,
    seed_size: int = 256,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """X48 seed: the candidate-piece table ``(piece, cnt)`` — ALL
    single characters (the coverage floor Viterbi falls back on) plus
    the top ``seed_size`` multi-char substrings of length ≤
    ``max_piece_len`` by corpus-frequency-weighted count, ties to the
    lexicographically smaller piece.

    This is the ONLY corpus-sized stage of unigram-LM induction (the
    word-freq aggregate inside :func:`bpe_word_freqs`; the substring
    explode runs over the TYPE table with fan-out ≤ len·max_piece_len
    per type and collapses map-side), mirroring X40's shape — and it is
    pure class-A integer arithmetic, so it gate-hash-checks
    (:func:`unigram_seed_sql` is the DuckDB twin).  Sentinel code
    points are stripped per the module contract.

    The piece-count table is ``localCheckpoint``-ed (lazily) so the
    chars branch and the top-N branch derive from ONE corpus scan;
    unstaged, the two union subtrees would scan the corpus twice (the
    pushed ``length(piece)`` filters break subtree reuse).  The staged
    table is substring-type-sized (content-bounded) and its blocks are
    released when the returned frame is dropped.  ``word_freqs=`` feeds a
    precomputed (w, freq) type table — :func:`unigram_lm_learn` passes
    its own checkpoint so seed + EM share one corpus aggregate."""
    if max_piece_len < 2:
        raise ValueError(f"max_piece_len must be >= 2, got {max_piece_len}")
    if seed_size < 1:
        raise ValueError(f"seed_size must be >= 1, got {seed_size}")
    w = F.col("w")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length(w) - i + 1),
                ),
                lambda n: w.substr(i, n),
            ),
        )
    )
    src = word_freqs if word_freqs is not None else bpe_word_freqs(df, text_col)
    counts = (
        src.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    chars = counts.where(F.length("piece") == 1)
    multi = (
        counts.where(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(seed_size)
    )
    return chars.unionByName(multi)


def unigram_seed_sql(
    src: str, *, max_piece_len: int = 4, seed_size: int = 256
) -> str:
    """DuckDB twin of :func:`unigram_seed_candidates` — same normalize +
    sentinel-strip tokenization, same type table, same substring
    explode, same (cnt DESC, piece ASC) top-N and all-chars union.
    ``src`` must yield a ``text`` column."""
    from pyspark_dist_explore_spark.operators.dedup import NORMALIZE_SQL

    norm = NORMALIZE_SQL.format(c="COALESCE(text, '')")
    return f"""
WITH ug_types AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_bpe_clean_words_sql(norm)}) AS w FROM ({src}) z)
  WHERE w <> '' GROUP BY w
),
ug_pieces AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT substr(t.w, s1.i, s2.n) AS piece, t.freq
    FROM ug_types t,
         LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS i) s1,
         LATERAL (SELECT unnest(generate_series(1,
                    least({max_piece_len}, len(t.w) - s1.i + 1))) AS n) s2
  ) GROUP BY piece
)
SELECT piece, cnt FROM ug_pieces WHERE len(piece) = 1
UNION ALL
SELECT piece, cnt FROM (
  SELECT piece, cnt FROM ug_pieces WHERE len(piece) > 1
  ORDER BY cnt DESC, piece ASC LIMIT {seed_size}
)"""


def _unigram_costs(counts: dict, *, cost_scale: int) -> dict:
    """Fixed-point integer piece costs from integer counts:
    ``round(cost_scale · −log2(count / total))``.  Computed ONCE in
    driver Python — both engines (and every EM round) consume the SAME
    integers, so nothing downstream touches a transcendental.  Single
    characters get their count floored at 1 (they are the coverage
    floor and must stay costed even when unused by any best path)."""
    import math

    eff = {
        p: (max(c, 1) if len(p) == 1 else c) for p, c in counts.items() if c > 0 or len(p) == 1
    }
    total = sum(eff.values())
    lt = math.log2(total) if total > 0 else 0.0
    return {
        p: int(round(cost_scale * (lt - math.log2(c)))) for p, c in eff.items()
    }


#: chunk bound for the Viterbi DP's path-tuple tie-break (the DP carries
#: the path for exact lexicographic tie-breaking, O(len²·max_piece_len)
#: worst-case — a pathological multi-thousand-char "word" would stall a
#: task; chunk boundaries are deterministic, so parity holds)
_UNIGRAM_MAX_WORD_CHARS = 4096


def _viterbi_segment(
    word: str, cost: dict, *, max_piece_len: int, unk_cost: int
) -> list:
    """Exact min-cost segmentation of one word under integer piece
    costs.  Tie-break: (total cost, piece count, path lexicographic) —
    a total order, so the result is engine/partitioning-independent.
    Characters absent from the cost table segment as single-char pieces
    at ``unk_cost`` (the char fallback), so every word segments."""
    if len(word) > _UNIGRAM_MAX_WORD_CHARS:
        out = []
        for k in range(0, len(word), _UNIGRAM_MAX_WORD_CHARS):
            out.extend(
                _viterbi_segment(
                    word[k : k + _UNIGRAM_MAX_WORD_CHARS],
                    cost,
                    max_piece_len=max_piece_len,
                    unk_cost=unk_cost,
                )
            )
        return out
    n = len(word)
    best = [None] * (n + 1)
    best[0] = (0, 0, ())
    for j in range(1, n + 1):
        cand = None
        for i in range(max(0, j - max_piece_len), j):
            b = best[i]
            if b is None:
                continue
            piece = word[i:j]
            c = cost.get(piece)
            if c is None:
                if j - i > 1:
                    continue
                c = unk_cost
            t = (b[0] + c, b[1] + 1, b[2] + (piece,))
            if cand is None or t < cand:
                cand = t
        best[j] = cand
    return list(best[n][2]) if n else []


def _viterbi_udf(cost: dict, *, max_piece_len: int, unk_cost: int):
    """Arrow-batched ``word -> array<string>`` best-segmentation UDF.
    The cost dict ships in the closure (model-sized — the vocab)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    def seg(words):
        memo = {}

        def one(w):
            r = memo.get(w)
            if r is None:
                r = _viterbi_segment(
                    w, cost, max_piece_len=max_piece_len, unk_cost=unk_cost
                )
                memo[w] = r
            return r

        return words.map(one)

    # real class objects, not strings: the module-wide `from __future__
    # import annotations` would stringify inline hints and the locally
    # imported pd could not be resolved by the UDF type inference
    seg.__annotations__ = {"words": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(StringType()))(seg)


def unigram_lm_learn(
    df: DataFrame,
    text_col: str,
    *,
    vocab_size: int = 32,
    max_piece_len: int = 4,
    seed_size: int = 256,
    em_rounds: int = 2,
    cost_scale: int = 1 << 20,
    max_seed: int = 1 << 20,
) -> DataFrame:
    """X48: induce a unigram-LM tokenizer vocabulary (Kudo 2018,
    hard-EM/Viterbi variant): ``(piece, cnt, cost)`` — the final vocab
    with its corpus-weighted usage counts and fixed-point integer
    costs.  The loop: seed candidates (:func:`unigram_seed_candidates`)
    → ``em_rounds`` × (E: Viterbi-best segmentation of every word TYPE
    under current costs; M: freq-weighted integer piece counts, zero-
    count non-char pieces dropped) → prune to the top
    ``vocab_size − |chars|`` multi-char pieces by (cnt DESC, piece ASC)
    → one final E/M so the reported counts/costs describe the PRUNED
    vocab.  Single characters are never pruned (coverage: every word
    always segments); if ``vocab_size ≤ |chars|`` the vocab is chars
    only, documented rather than raising.

    **Practical size ceiling** (the X40 ``max_merges`` convention):
    the seed and every M-step are driver collects (model-sized by
    design) and each EM round ships the cost dict in the UDF closure —
    fine to ~10⁶ pieces, wrong for a 10⁷-candidate production seed.
    ``max_seed`` (default 2²⁰) raises with the honest alternative
    (export :func:`bpe_word_freqs`, train single-machine) rather than
    letting a vocab-scale seed through silently.

    Exactness: piece costs are integers computed once per round from
    integer counts (:func:`_unigram_costs` — the only transcendental,
    driver-side), the DP compares integer sums under a total order, and
    the M-step is a BIGINT aggregate — so the whole chain is
    deterministic at any parallelism and reproducible cross-engine
    given the same counts (pytest pins a pure-Python replay).

    Scale shape (the X40 discipline): ONE corpus-sized word-freq
    aggregate; the seed substring explode and every E-step run over the
    localCheckpoint-ed TYPE table (Arrow-batched Viterbi, fan-out ≤
    pieces per word); M-steps collapse map-side to vocab-sized tables —
    the only collects are the seed (``seed_size + |chars|`` rows) and
    the per-round vocab counts (model-sized).  ``em_rounds`` is the
    sequential-dependency knob like BPE's ``k``: each round is two
    narrow type-table jobs, NOT corpus scans.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if em_rounds < 1:
        raise ValueError(f"em_rounds must be >= 1, got {em_rounds}")
    if seed_size > max_seed:
        raise ValueError(
            f"seed_size={seed_size} exceeds max_seed={max_seed}: the seed "
            "candidates and every M-step collect to the driver (they ARE "
            "the model), and each EM round ships the cost dict to every "
            "executor. For a production-vocab induction, export "
            "bpe_word_freqs(df, text_col) — the type table is "
            "driver-sized — and train single-machine (SentencePiece "
            "accepts word-frequency input); or pass an explicit max_seed "
            "if you accept the driver/closure footprint."
        )
    spark = df.sparkSession
    # lazy: the seed collect below materializes the type table; the EM
    # rounds then read the blocks (released only in the finally)
    types = bpe_word_freqs(df, text_col).localCheckpoint(eager=False)
    from pyspark_dist_explore_spark.operators.dedup import (
        _release_local_checkpoint,
    )

    try:
        seed_rows = unigram_seed_candidates(
            df,
            text_col,
            max_piece_len=max_piece_len,
            seed_size=seed_size,
            word_freqs=types,  # share the checkpointed type table
        ).collect()  # bounded-collect: seed_size + |chars| candidate rows (the model seed)
        counts = {r["piece"]: int(r["cnt"]) for r in seed_rows}
        if not counts:
            return spark.createDataFrame(
                [], "piece string, cnt bigint, cost bigint"
            )
        chars = {p for p in counts if len(p) == 1}

        def em(cost: dict) -> dict:
            unk = max(cost.values()) + 8 * cost_scale
            seg = _viterbi_udf(
                cost, max_piece_len=max_piece_len, unk_cost=unk
            )
            got = (
                types.select(F.explode(seg(F.col("w"))).alias("piece"), "freq")
                .groupBy("piece")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
                .collect()  # bounded-collect: vocab-sized M-step counts
            )
            return {r["piece"]: int(r["cnt"]) for r in got}

        for _ in range(em_rounds):
            used = em(_unigram_costs(counts, cost_scale=cost_scale))
            counts = {
                p: used.get(p, 0)
                for p in counts
                if used.get(p, 0) > 0 or p in chars
            }
        n_multi = max(vocab_size - len(chars), 0)
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )[:n_multi]
        counts = {p: counts[p] for p in chars} | dict(multi)
        # final E/M: counts and costs must describe the PRUNED vocab
        used = em(_unigram_costs(counts, cost_scale=cost_scale))
        counts = {p: used.get(p, 0) for p in counts if used.get(p, 0) > 0 or p in chars}
        cost = _unigram_costs(counts, cost_scale=cost_scale)
        rows = sorted(
            (p, int(c), int(cost[p])) for p, c in counts.items()
        )
        return spark.createDataFrame(
            rows, "piece string, cnt bigint, cost bigint"
        )
    finally:
        _release_local_checkpoint(types)


def unigram_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    *,
    extra_cols: Sequence[str] = (),
    max_piece_len: int = 4,
) -> DataFrame:
    """Apply a learned unigram vocab to a corpus: ``(doc_id[, extras],
    n_tokens, n_subwords)`` per document — the fertility card on the
    same schema as :func:`bpe_encode`, so the two tokenizers A/B
    directly.  ``vocab``: the :func:`unigram_lm_learn` frame (or any
    ``(piece, cost)`` frame; collected — it is the model).

    Scale shape: Viterbi runs ONCE per distinct word (the type table),
    not per occurrence — tokens explode row-locally, join the
    broadcast type-sized segment table, and re-aggregate per doc: two
    exchanges (distinct-words, per-doc rollup) + one broadcast, no
    corpus-sized Python.
    The corpus is scanned twice (the distinct-words branch and the
    explode branch) — the alternative single-scan form would run the
    Viterbi UDF once per token OCCURRENCE instead of once per type,
    which loses badly whenever words repeat (they always do).
    ``extra_cols`` must be functionally dependent on ``id_col`` (they
    ride the rollup's grouping key)."""
    model = {
        r["piece"]: int(r["cost"])
        for r in vocab.select("piece", "cost").collect()  # bounded-collect: vocab-sized model artifact
    }
    if not model:
        raise ValueError("unigram_encode: empty vocab")
    unk = max(model.values()) + 8 * (1 << 20)
    seg = _viterbi_udf(model, max_piece_len=max_piece_len, unk_cost=unk)
    toks = F.filter(
        F.transform(tokens(F.coalesce(F.col(text_col), F.lit(""))), _bpe_clean),
        lambda x: x != "",
    )
    words = (
        df.select(F.explode(toks).alias("w"))
        .distinct()
        .select("w", F.size(seg(F.col("w"))).cast("bigint").alias("n_pieces"))
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.explode_outer(toks).alias("w"),
    )
    return (
        ex.join(F.broadcast(words), "w", "left")
        .groupBy("doc_id", *extra_cols)
        .agg(
            F.count("w").cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce(F.col("n_pieces"), F.lit(0)))
            .cast("bigint")
            .alias("n_subwords"),
        )
    )


# --------------------------------------------------------------------------
# X29: fastText-style hashed n-gram linear classifier gate (the
# model-based quality filter of CCNet / DCLM-style pipelines: a linear
# model over hashed word uni+bigram features, scored per document and
# thresholded).  Spark runs the whole thing as ONE row-local projection
# — gram build, bucket hash, weight lookup, and the logit sum are array
# expressions inside whole-stage codegen, so the filter costs a scan
# and nothing else at any corpus size (no explode, no join, no
# shuffle).
# --------------------------------------------------------------------------

#: Knuth multiplicative mixer — turns a bucket id into a pseudo-random
#: deterministic integer weight.  bucket < 2^20 and MIX < 2^32, so the
#: product stays < 2^52: exact BIGINT arithmetic on BOTH engines.
CLS_MIX = 2654435761


def _cls_gram_col(t: Column, *, bigrams: bool) -> Column:
    """Unigram (+ bigram) grams of the normalized token stream as ONE
    array column — row-local, no explode."""
    return _cls_grams_from_tokens(word_tokens(t), bigrams=bigrams)


def _cls_grams_from_tokens(toks: Column, *, bigrams: bool) -> Column:
    """The gram list from an already-built :func:`word_tokens` array, so
    a consumer that staged the tokens for other columns (the Gopher
    pass, :func:`_gopher_gate`) derives the grams without re-running
    the normalize+split+filter chain."""
    if not bigrams:
        return toks

    # zip_with over two slices, NOT element_at(toks, i) inside a
    # transform lambda: an outer expression captured in a lambda body is
    # RE-EVALUATED per element, so the element_at form re-runs the full
    # normalize+split+filter chain O(n) times per doc — O(n²) regex work
    # (measured ~18 s for 5 000 sf0.1 docs vs ~1.5 s for this form).
    # The single-element transform let-binds the token array so the
    # chain runs ONCE per row instead of once per reference (concat,
    # size, two slices — a lambda variable is a bound value).
    def _grams(ts: Column) -> Column:
        n = F.size(ts)
        bi = F.when(
            n >= 2,
            F.zip_with(
                F.slice(ts, 1, n - F.lit(1)),
                F.slice(ts, 2, n - F.lit(1)),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(ts, bi)

    return F.element_at(F.transform(F.array(toks), _grams), 1)


def _cls_grams_sql(l: str, *, bigrams: bool) -> str:
    """DuckDB twin of :func:`_cls_grams_from_tokens` over the
    :func:`word_tokens_sql` list column ``l``."""
    if not bigrams:
        return l
    bi = (
        f"CASE WHEN len({l}) >= 2 THEN list_transform(generate_series(1, len({l}) - 1), "
        f"i -> {l}[i] || ' ' || {l}[i + 1]) ELSE []::VARCHAR[] END"
    )
    return f"list_concat({l}, {bi})"


def _cls_bucket_expr(gram: Column, *, n_buckets: int, hash_fn: str) -> Column:
    """Feature bucket of one gram.  ``xxhash64`` (default) is the fast
    native path (``pmod`` keeps the signed hash non-negative);
    ``md5`` derives the bucket from the 60-bit integer of the hex digest
    (:func:`_cls_bucket_sql` is the DuckDB twin) — the oracle-checkable
    variant, same convention as the MinHash/SimHash families."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(gram), F.lit(n_buckets))
    if hash_fn == "md5":
        return hex_int(F.md5(gram), 1, 15) % F.lit(n_buckets)
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def _cls_bucket_sql(gram: str, n_buckets: int) -> str:
    """DuckDB rendering of the ``hash_fn='md5'`` :func:`_cls_bucket_expr`."""
    return f"{hex_int_sql(f'md5({gram})', 1, 15)} % {n_buckets}"


def _cls_weight_expr(
    gram: Column, *, n_buckets: int, weight_scale: int, hash_fn: str
) -> Column:
    """Deterministic integer weight of one gram: bucket →
    multiplicative-mixer weight in [-weight_scale/2, weight_scale/2).
    Every step is exact BIGINT math; with ``hash_fn='md5'`` the chain
    is rendered identically in the DuckDB twin (:func:`classifier_sql`),
    so the gate columns are class-A integers — no float, no rounding,
    no knife edge."""
    b = _cls_bucket_expr(gram, n_buckets=n_buckets, hash_fn=hash_fn)
    return (b * F.lit(CLS_MIX)) % F.lit(weight_scale) - F.lit(weight_scale // 2)


def _cls_keep(n_grams: Column, logit: Column, threshold: tuple[int, int]) -> Column:
    """The classifier gate: keep (1) iff the doc has grams and its mean
    weight ``logit / n_grams`` reaches ``num/den``, compared as
    ``logit·den ≥ num·n_grams`` so no division or float appears."""
    num, den = threshold
    return ((n_grams > 0) & (logit * F.lit(den) >= F.lit(num) * n_grams)).cast("int")


def classifier_exprs(
    t: Column,
    *,
    n_buckets: int = 1 << 20,
    weight_scale: int = 1 << 16,
    bigrams: bool = True,
    threshold: tuple[int, int] = (0, 1),
    hash_fn: str = "xxhash64",
) -> list[Column]:
    """The three inline-weight classifier gate columns as row-local
    expressions — importable so a filter predicate (or any single-column
    consumer) can ride an EXISTING scan.  Aliased ``(n_cls_grams,
    cls_logit_num, cls_keep)``.

    COST CAVEAT: higher-order functions are CodegenFallback, so codegen
    subexpression elimination does NOT dedupe the gram/fold chain across
    these columns — selecting all three in one projection evaluates the
    chain up to 4×.  Use :func:`with_classifier_gate` (staged
    projections, chain evaluated once per row) when appending all three
    columns; use this form only for a single expression (e.g. the
    pipeline's ``where(keep == 1)``, one evaluation per row).

    ``hash_fn='xxhash64'`` (default) is the fast native path; ``'md5'``
    is the DuckDB-reproducible variant the registered gate uses."""
    grams = _cls_gram_col(t, bigrams=bigrams)
    ws = F.transform(
        grams,
        lambda g: _cls_weight_expr(
            g, n_buckets=n_buckets, weight_scale=weight_scale, hash_fn=hash_fn
        ),
    )
    logit = F.aggregate(ws, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    n_grams = F.size(grams).cast("bigint")
    return [
        n_grams.alias("n_cls_grams"),
        logit.alias("cls_logit_num"),
        _cls_keep(n_grams, logit, threshold).alias("cls_keep"),
    ]


def _gate_from_grams(
    staged: DataFrame,
    *,
    n_buckets: int,
    weight_scale: int,
    threshold: tuple[int, int],
    hash_fn: str,
    gram_col: str = "__cls_grams",
) -> DataFrame:
    """Stages 2+3 of the gate over a frame that already carries the gram
    array as ``gram_col``: (size, weight-fold) in one projection, keep
    derived from the NAMED logit column in the next, gram column
    dropped.  Chained projections instead of one wide one because
    ``CollapseProject`` keeps a non-cheap alias that is referenced more
    than once in its own Project, so the gram build and the fold each
    evaluate ONCE per row — the single-projection form re-evaluates the
    fold for ``cls_keep`` and the gram chain for every consumer (HOFs
    are CodegenFallback: no codegen subexpression elimination).  The
    weight is folded inside the aggregate lambda, so no per-row weight
    array is built."""
    scored = staged.select(
        "*",
        F.size(gram_col).cast("bigint").alias("n_cls_grams"),
        F.aggregate(
            F.col(gram_col),
            F.lit(0).cast("bigint"),
            lambda acc, g: acc
            + _cls_weight_expr(
                g, n_buckets=n_buckets, weight_scale=weight_scale, hash_fn=hash_fn
            ),
        ).alias("cls_logit_num"),
    ).drop(gram_col)
    keep = _cls_keep(F.col("n_cls_grams"), F.col("cls_logit_num"), threshold)
    return scored.select("*", keep.alias("cls_keep"))


def with_classifier_gate(
    df: DataFrame,
    t: Column,
    *,
    n_buckets: int = 1 << 20,
    weight_scale: int = 1 << 16,
    bigrams: bool = True,
    threshold: tuple[int, int] = (0, 1),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Append the gate columns ``(n_cls_grams, cls_logit_num,
    cls_keep)`` to ``df`` via staged projections — the once-per-row
    evaluation form (see :func:`_gate_from_grams`).  ``t`` is the text
    expression, evaluated against ``df``'s columns."""
    staged = df.select("*", _cls_gram_col(t, bigrams=bigrams).alias("__cls_grams"))
    return _gate_from_grams(
        staged,
        n_buckets=n_buckets,
        weight_scale=weight_scale,
        threshold=threshold,
        hash_fn=hash_fn,
    )


def classifier_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_buckets: int = 1 << 20,
    weight_scale: int = 1 << 16,
    bigrams: bool = True,
    threshold: tuple[int, int] = (0, 1),
    weights: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashed n-gram linear classifier score + keep/drop gate per
    document: ``(doc_id, n_cls_grams, cls_logit_num, cls_keep)``.

    The fastText construction (Joulin et al. 2016, arXiv:1607.01759)
    as production data pipelines use it for model-based quality
    filtering (CCNet, DCLM): features are word unigrams + bigrams
    hashed into ``n_buckets``; the document score is the mean bucket
    weight; keep iff score ≥ threshold.  All gate columns are exact
    integers: ``cls_logit_num`` is the BIGINT **sum** of integer
    weights and the gate compares ``cls_logit_num·den ≥ num·n_grams``
    (``threshold=(num, den)`` as a rational over the integer weight
    grid) — the mean never materializes as a float, so cross-engine
    hash parity is structural (ORACLES.md class A).

    ``weights=None`` derives the per-bucket weight deterministically
    from the bucket id (md5 bucket → Knuth multiplicative mixer →
    ``[-weight_scale/2, weight_scale/2)``) — a reproducible STAND-IN
    for offline-trained weights with the true serving shape: the score
    is a pure row-local expression, zero shuffle, zero join, one scan.
    ``hash_fn`` picks the bucket hash: ``'xxhash64'`` (default, fast
    native) or ``'md5'`` (DuckDB-reproducible — what the registered
    ``text_stats`` gate and :func:`classifier_sql` use; a weights table
    must be built under the same ``hash_fn`` it is served with).
    ``weights=`` (a ``(bucket BIGINT, weight BIGINT)`` frame, e.g. an
    offline logistic-regression fit exported to a table) serves real
    models: grams explode once, the weight table joins BROADCAST
    (≤ n_buckets rows — fastText's own table is ~2²⁰ ints), and one
    map-side-combined sum per doc restores the row shape; unmatched
    buckets weigh 0, docs with no grams keep ``(0, 0, 0)``.

    Scale: the inline form is embarrassingly parallel (the filter a
    1000-executor cluster applies while the corpus streams through the
    scan); the weights form shuffles only doc-count rows once.  Empty /
    NULL docs never pass the gate (``n_grams = 0 → cls_keep = 0``).
    """
    if n_buckets < 1 or weight_scale < 2 or weight_scale % 2:
        raise ValueError(
            f"need n_buckets >= 1 and even weight_scale >= 2, got {n_buckets}, {weight_scale}"
        )
    _, den = threshold
    if den < 1:
        raise ValueError(f"threshold denominator must be >= 1, got {den}")
    t = F.col(text_col)
    if weights is None:
        # staged projections (not one wide classifier_exprs select):
        # gram build + weight fold evaluate once per row, see
        # _gate_from_grams
        staged = df.select(
            F.col(id_col).alias("doc_id"),
            _cls_gram_col(t, bigrams=bigrams).alias("__cls_grams"),
        )
        return _gate_from_grams(
            staged,
            n_buckets=n_buckets,
            weight_scale=weight_scale,
            threshold=threshold,
            hash_fn=hash_fn,
        )
    grams = _cls_gram_col(t, bigrams=bigrams)
    missing = {"bucket", "weight"} - set(weights.columns)
    if missing:
        raise ValueError(f"weights frame missing column(s): {sorted(missing)}")
    b = _cls_bucket_expr(F.col("gram"), n_buckets=n_buckets, hash_fn=hash_fn)
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(grams).alias("gram"),  # outer: keep empty docs
    ).select("doc_id", b.alias("bucket"), "gram")
    joined = exploded.join(
        F.broadcast(weights.select("bucket", F.col("weight").cast("bigint").alias("weight"))),
        "bucket",
        "left",
    )
    scored = joined.groupBy("doc_id").agg(
        F.count(F.col("gram")).cast("bigint").alias("n_cls_grams"),
        F.coalesce(
            F.sum(F.when(F.col("gram").isNotNull(), F.coalesce(F.col("weight"), F.lit(0)))),
            F.lit(0),
        ).cast("bigint").alias("cls_logit_num"),
    )
    keep = _cls_keep(F.col("n_cls_grams"), F.col("cls_logit_num"), threshold)
    return scored.select("doc_id", "n_cls_grams", "cls_logit_num", keep.alias("cls_keep"))


def nb_bucket_weight(
    cp: int, cn: int, *, alpha: float = 1.0, weight_scale: int = 1 << 16
) -> int:
    """Centered Naive-Bayes log-odds of one feature bucket on the
    integer weight grid: ``round(scale · ln((cp+α)/(cn+α)))``.

    "Centered" = relative to a bucket unseen in BOTH corpora, whose
    full NB log-odds ``ln((α/(Np+αB))/(α/(Nn+αB)))`` is constant across
    buckets — subtracting it makes unseen buckets weigh exactly 0 (the
    serving convention of :func:`classifier_score`: unmatched buckets
    contribute nothing), and the corpus-size normalizers cancel
    algebraically, leaving the pure smoothed count ratio.

    This is the ONE function the transcendental lives in (the X48/X18
    technique): the Spark trainer computes every weight through it on
    the driver, so any twin comparing the emitted table compares
    identical integers — no cross-engine libm knife edge exists.
    """
    from math import log

    return round(weight_scale * log((cp + alpha) / (cn + alpha)))


def classifier_train(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str,
    *,
    n_buckets: int = 1 << 20,
    weight_scale: int = 1 << 16,
    bigrams: bool = True,
    hash_fn: str = "xxhash64",
    alpha: float = 1.0,
    min_count: int = 1,
) -> DataFrame:
    """X56: TRAIN the hashed n-gram classifier :func:`classifier_score`
    serves — the missing half of the CCNet/DCLM seed-classifier recipe
    (label a positive seed set, e.g. wiki-referenced pages, against a
    raw-crawl negative sample; filter the corpus with the resulting
    linear model).  Closed-form multinomial Naive Bayes over the SAME
    hashed uni+bigram features the scorer uses: per bucket, the
    centered smoothed log-count-ratio ``round(scale·ln((cp+α)/(cn+α)))``
    (:func:`nb_bucket_weight`) — no SGD, no iteration, one shot.  NB
    log-odds IS a linear model over these features, so serving is
    exactly ``classifier_score(weights=...)`` with a threshold in the
    same integer-grid units.

    Returns the ``(bucket BIGINT, weight BIGINT)`` serving frame
    (zero-weight buckets dropped — serving treats absent as 0).
    ``hash_fn`` must match serving.  ``min_count`` drops buckets with
    fewer than that many total occurrences (hash-collision noise and
    table-size lever).  Unbalanced seed sets shift every weight by a
    constant ≈ ``scale·ln(Np/Nn)`` — balance the sets or absorb the
    shift into the serving threshold.

    Scale shape: the corpora reduce to TWO bucket-count aggregates
    (map-side combined; gram build is the scorer's own row-local array
    expression), full-outer-joined bucket-wise — at most ``n_buckets``
    rows — then collected to the driver where the one transcendental
    function stamps integer weights (bounded: the table IS the model,
    ≤ n_buckets ≈ 2²⁰ rows at the fastText default, the
    :func:`unigram_encode` model-collect precedent).
    """
    if n_buckets < 1 or n_buckets > 1 << 22:
        raise ValueError(
            f"n_buckets must be in [1, 2^22] (the count table collects to "
            f"the driver — it is the model), got {n_buckets}"
        )
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (NB smoothing), got {alpha}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")

    def bucket_counts(df: DataFrame, name: str) -> DataFrame:
        grams = _cls_gram_col(F.col(text_col), bigrams=bigrams)
        b = _cls_bucket_expr(F.col("gram"), n_buckets=n_buckets, hash_fn=hash_fn)
        return (
            df.select(F.explode(grams).alias("gram"))
            .select(b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    cp = bucket_counts(pos, "cp")
    cn = bucket_counts(neg, "cn")
    joined = cp.join(cn, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("cp"), F.lit(0)).cast("bigint").alias("cp"),
        F.coalesce(F.col("cn"), F.lit(0)).cast("bigint").alias("cn"),
    )
    rows = joined.where(
        F.col("cp") + F.col("cn") >= min_count
    ).collect()  # bounded-collect: <= n_buckets count rows (the model)
    if not rows:
        raise ValueError("classifier_train: no grams in either corpus")
    out = [
        (int(r["bucket"]), w)
        for r in rows
        if (
            w := nb_bucket_weight(
                int(r["cp"]), int(r["cn"]), alpha=alpha, weight_scale=weight_scale
            )
        )
        != 0
    ]
    spark = pos.sparkSession
    return spark.createDataFrame(out, "bucket bigint, weight bigint")


def classifier_train_counts_sql(
    pos_src: str,
    neg_src: str,
    *,
    n_buckets: int = 1 << 20,
    bigrams: bool = True,
) -> str:
    """DuckDB twin of :func:`classifier_train`'s distributed half — the
    per-bucket (cp, cn) count table under ``hash_fn='md5'`` (exact
    BIGINTs; class A).  The weights downstream come from
    :func:`nb_bucket_weight` on BOTH sides, so comparing counts pins
    the whole trainer.  Sources must yield a ``text`` column."""
    def side(src: str) -> str:
        return f"""
  SELECT {_cls_bucket_sql("g", n_buckets)} AS bucket
  FROM (
    SELECT unnest({_cls_grams_sql("l", bigrams=bigrams)}) AS g
    FROM (SELECT {word_tokens_sql("text")} AS l
          FROM ({src}))
  )
"""

    return f"""
WITH pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cp FROM ({side(pos_src)}) GROUP BY 1),
nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cn FROM ({side(neg_src)}) GROUP BY 1)
SELECT COALESCE(pb.bucket, nb.bucket) AS bucket,
       COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
FROM pb FULL OUTER JOIN nb ON pb.bucket = nb.bucket
"""


def classifier_sql(
    src: str,
    *,
    n_buckets: int = 1 << 20,
    weight_scale: int = 1 << 16,
    bigrams: bool = True,
    threshold: tuple[int, int] = (0, 1),
) -> str:
    """DuckDB twin of the inline-weight :func:`classifier_score`
    (``hash_fn='md5'`` form): same
    normalized token stream, same uni+bigram list, same md5-bucket →
    mixer-weight BIGINT chain, same rational-threshold gate.  ``src``
    must yield ``(doc_id, text)``.  Every hashed column is an exact
    integer — the two engines share the very bits by construction."""
    num, den = threshold
    half = weight_scale // 2
    w = (
        f"(({_cls_bucket_sql('g', n_buckets)}) * {CLS_MIX}) "
        f"% {weight_scale} - {half}"
    )
    return f"""
WITH cls_src AS ({src}),
cls_t AS (
  SELECT doc_id, {word_tokens_sql("text")} AS l
  FROM cls_src
),
cls_g AS (SELECT doc_id, {_cls_grams_sql("l", bigrams=bigrams)} AS grams FROM cls_t),
cls_s AS (
  SELECT doc_id,
         CAST(len(grams) AS BIGINT) AS n_cls_grams,
         CAST(COALESCE(list_sum(list_transform(grams, g -> {w})), 0) AS BIGINT)
           AS cls_logit_num
  FROM cls_g
)
SELECT doc_id, n_cls_grams, cls_logit_num,
       CASE WHEN n_cls_grams > 0 AND cls_logit_num * {den} >= {num} * n_cls_grams
            THEN 1 ELSE 0 END AS cls_keep
FROM cls_s
"""


# --------------------------------------------------------------------------
# X37: C4 heuristic cleaning (Raffel et al. 2020, arXiv:1910.10683 §2.2)
# --------------------------------------------------------------------------

#: the terminal punctuation C4 requires a retained line to end with —
#: "a period, exclamation mark, question mark, or end quotation mark"
C4_TERMINAL_RE = r'[.!?"”]'


def c4_line_keep(x: Column, *, min_words_per_line: int = 3) -> Column:
    """C4's line retention predicate: the line ends in terminal
    punctuation once trailing whitespace is stripped (:func:`_line_ends`),
    carries ≥ ``min_words_per_line`` words, and does not mention
    'javascript' (case-insensitive) — the three line-level rules of
    §2.2 as one row-local boolean.  Words are the runs between
    ``WHITESPACE_RE`` runs, so tab- or multi-space-separated words each
    count; the DuckDB twin splits on the same class."""
    words = F.size(F.filter(F.split(x, WHITESPACE_RE + "+"), lambda w: w != ""))
    return (
        _line_ends(x, C4_TERMINAL_RE)
        & (words >= F.lit(min_words_per_line))
        & ~F.lower(x).contains("javascript")
    )


def _c4_gate(
    df: DataFrame,
    t: Column,
    *,
    line_sep: str,
    min_words_per_line: int,
    min_sentences: int,
    bad_words: Sequence[str],
) -> DataFrame:
    """The one C4 pass :func:`c4_clean` and :func:`with_c4_gate` select
    from.  Appends to ``df`` (NULL text read as ``''``): ``c4_n_lines``,
    ``c4_n_kept_lines``, the retained lines re-joined as ``__c4_kept``,
    the page flags ``c4_has_brace``/``c4_has_lorem``/``c4_has_bad``,
    ``c4_n_sentences`` (``[.!?]`` marks in the retained text) and
    ``c4_keep``.  The line array is staged once and dropped."""
    ct = F.coalesce(t, F.lit(""))
    staged = df.select("*", F.split(ct, re.escape(line_sep)).alias("__c4_lines"))
    kept = F.filter(
        F.col("__c4_lines"),
        lambda x: c4_line_keep(x, min_words_per_line=min_words_per_line),
    )
    bad = (
        F.arrays_overlap(word_tokens(t), F.array(*[F.lit(w) for w in bad_words]))
        if bad_words
        else F.lit(False)
    )
    flagged = staged.select(
        "*",
        F.size(F.col("__c4_lines")).cast("bigint").alias("c4_n_lines"),
        F.size(kept).cast("bigint").alias("c4_n_kept_lines"),
        F.array_join(kept, line_sep).alias("__c4_kept"),
        ct.contains("{").cast("int").alias("c4_has_brace"),
        F.lower(ct).contains("lorem ipsum").cast("int").alias("c4_has_lorem"),
        bad.cast("int").alias("c4_has_bad"),
    ).drop("__c4_lines")
    n_sent = F.regexp_count(F.col("__c4_kept"), F.lit(r"[.!?]")).cast("bigint")
    keep = (
        (n_sent >= F.lit(min_sentences))
        & (F.col("c4_has_brace") == 0)
        & (F.col("c4_has_lorem") == 0)
        & (F.col("c4_has_bad") == 0)
    ).cast("int")
    return flagged.select("*", n_sent.alias("c4_n_sentences"), keep.alias("c4_keep"))


def c4_clean(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    line_sep: str = "\n",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """X37: the C4 cleaning heuristics (Raffel et al. 2020 §2.2) — the
    other canonical rule set next to Gopher (X31): line-level retention
    (:func:`c4_line_keep`) and page-level drops (< ``min_sentences``
    sentences, curly brace — "to remove code", 'lorem ipsum', any
    ``bad_words`` token).  Returns one row per doc: ``(doc_id,
    c4_n_lines, c4_n_kept_lines, c4_kept_md5, c4_n_sentences,
    c4_has_brace, c4_has_lorem, c4_has_bad, c4_keep)`` — the md5
    verifies the transformation (which lines survived, in order), not
    just the counts.

    Every column is an exact integer or an md5 of deterministic bytes
    (ORACLES.md class A); the operator is one row-local staged pass
    (:func:`_c4_gate`, shared with :func:`with_c4_gate`) — no shuffle,
    join or Python.  ``bad_words`` is caller-supplied (the published
    filter uses the "List of Dirty, Naughty, Obscene or Otherwise Bad
    Words"; shipping a list is a policy decision, matching it against
    :func:`word_tokens` is not) — an empty tuple disables the rule.
    Sentences are counted as terminal marks ``[.!?]`` in the retained
    text, the standard reproduction of the paper's langdetect-era
    sentence count.
    """
    return _c4_gate(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__c4_raw")),
        F.col("__c4_raw"),
        line_sep=line_sep,
        min_words_per_line=min_words_per_line,
        min_sentences=min_sentences,
        bad_words=bad_words,
    ).select(
        "doc_id",
        "c4_n_lines",
        "c4_n_kept_lines",
        F.md5(F.col("__c4_kept")).alias("c4_kept_md5"),
        "c4_n_sentences",
        "c4_has_brace",
        "c4_has_lorem",
        "c4_has_bad",
        "c4_keep",
    )


def with_c4_gate(
    df: DataFrame,
    t: Column,
    *,
    line_sep: str = "\n",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Append ``(__c4_kept, c4_keep)`` to ``df`` — the pipeline-predicate
    form of :func:`c4_clean`, a select over the same pass
    (:func:`_c4_gate`).  All input columns are kept and the retained
    lines are exposed so the caller can replace the page text with
    them, which is what the published C4 pipeline does.  ``t`` is the
    text expression over ``df``'s columns."""
    return _c4_gate(
        df,
        t,
        line_sep=line_sep,
        min_words_per_line=min_words_per_line,
        min_sentences=min_sentences,
        bad_words=bad_words,
    ).drop(
        "c4_n_lines",
        "c4_n_kept_lines",
        "c4_has_brace",
        "c4_has_lorem",
        "c4_has_bad",
        "c4_n_sentences",
    )


def c4_sql(
    src: str,
    *,
    line_sep: str = "\n",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] | list[str] = (),
) -> str:
    """DuckDB twin of :func:`c4_clean` — same line predicate, same
    rebuild, same md5 bytes.  ``src`` must yield ``(doc_id, text)``."""
    sep = line_sep.replace("'", "''").replace("\n", "' || chr(10) || '")
    sep_lit = f"'{sep}'" if line_sep != "\n" else "chr(10)"
    if bad_words:
        arr = ", ".join("'" + w.replace("'", "''") + "'" for w in bad_words)
        bad = f"CASE WHEN list_has_any({word_tokens_sql('raw')}, [{arr}]) THEN 1 ELSE 0 END"
    else:
        bad = "0"
    return f"""
WITH c4_src AS ({src}),
c4_t AS (
  SELECT doc_id,
         string_split(COALESCE(text, ''), {sep_lit}) AS ls,
         COALESCE(text, '') AS raw
  FROM c4_src
),
c4_k AS (
  SELECT doc_id, ls, raw,
         list_filter(ls, x -> {_line_ends_sql("x", C4_TERMINAL_RE)}
             AND len(list_filter(regexp_split_to_array(x, '{WHITESPACE_RE}+'), w -> w <> '')) >= {min_words_per_line}
             AND NOT contains(lower(x), 'javascript')) AS kept
  FROM c4_t
),
c4_s AS (
  SELECT doc_id,
         CAST(len(ls) AS BIGINT) AS c4_n_lines,
         CAST(len(kept) AS BIGINT) AS c4_n_kept_lines,
         COALESCE(array_to_string(kept, {sep_lit}), '') AS kept_text,
         CASE WHEN contains(raw, '{{') THEN 1 ELSE 0 END AS c4_has_brace,
         CASE WHEN contains(lower(raw), 'lorem ipsum') THEN 1 ELSE 0 END AS c4_has_lorem,
         {bad} AS c4_has_bad
  FROM c4_k
)
SELECT doc_id, c4_n_lines, c4_n_kept_lines,
       md5(kept_text) AS c4_kept_md5,
       CAST(len(regexp_extract_all(kept_text, '[.!?]')) AS BIGINT) AS c4_n_sentences,
       c4_has_brace, c4_has_lorem, c4_has_bad,
       CASE WHEN len(regexp_extract_all(kept_text, '[.!?]')) >= {min_sentences}
             AND c4_has_brace = 0 AND c4_has_lorem = 0 AND c4_has_bad = 0
            THEN 1 ELSE 0 END AS c4_keep
FROM c4_s
"""


def inject_punctuation(t: Column) -> Column:
    """Deterministic punctuation/line-structure injection — the gate
    ADAPTER for punctuation-free corpora (the md5-parity-planes trick,
    :func:`~pyspark_dist_explore_spark.operators.similarity.lsh_bucket`,
    applied to text): each whitespace token of the normalized text gets
    a suffix chosen by the first md5 hex digit of ``token:position``
    mod 4 — ``'. '`` / ``'? '`` / ``' '`` / ``'.\\n'`` — so sentence
    ends, weak lines and line breaks all occur at corpus-independent,
    engine-reproducible places.  Exists ONLY so the registered C4
    section exercises every line/sentence rule with a MIXED gate on the
    synthetic word-salad corpus (which has no punctuation at all);
    real corpora call :func:`c4_clean` directly."""
    toks = word_tokens(t)

    # transform with index; rebuild via a lambda-local suffix CASE
    def _suffix(x: Column, i: Column) -> Column:
        h = F.md5(F.concat(F.lit("c4:"), x, F.lit(":"), i.cast("string")))
        d = hex_int(h, 1, 1) % 4
        return F.concat(
            x,
            F.when(d == 0, F.lit(". "))
            .when(d == 1, F.lit("? "))
            .when(d == 2, F.lit(" "))
            .otherwise(F.lit(".\n")),
        )

    return F.array_join(F.transform(toks, _suffix), "")


def inject_punctuation_sql(src: str) -> str:
    """DuckDB rendering of :func:`inject_punctuation` (ONE definition of
    the md5-parity suffix rule for both engines).  ``src`` yields
    ``(doc_id, text)``; returns a query yielding ``(doc_id, text)``
    with the injected text (empty docs come through as '')."""
    return f"""
SELECT s.doc_id, COALESCE(j.text, '') AS text
FROM ({src}) s
LEFT JOIN (
  SELECT doc_id,
         string_agg(
           tok || CASE {hex_int_sql("md5('c4:' || tok || ':' || CAST(pos AS VARCHAR))", 1, 1)} % 4
                  WHEN 0 THEN '. ' WHEN 1 THEN '? ' WHEN 2 THEN ' '
                  ELSE '.' || chr(10) END,
           '' ORDER BY pos) AS text
  FROM (
    SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok
    FROM (SELECT doc_id, {word_tokens_sql("text")} AS l
          FROM ({src}) s2) t
  ) tok_rows
  GROUP BY doc_id
) j ON s.doc_id = j.doc_id
"""


# ---------------------------------------------------------------------------
# X74: compressibility quality signal
# ---------------------------------------------------------------------------


def compression_signals(
    df: DataFrame,
    text_col: str = "text",
    *,
    level: int = 6,
    prefix: str = "",
) -> DataFrame:
    """Append the COMPRESSIBILITY quality signal: ``zlib_ratio`` =
    deflate-compressed bytes / raw utf-8 bytes (plus ``utf8_bytes``) —
    the "compression filtering" heuristic of public curation pipelines:
    templated / boilerplate / highly repetitive text compresses far
    below prose (ratio ≪ the ~0.4–0.7 natural-language band), while
    random or already-compressed payloads sit near 1.0; both tails are
    quality-suspect.  Complements the n-gram repetition battery (X5h/
    X32): deflate's 32 KB window catches long-range and APPROXIMATE
    repetition structure that fixed-n gram counts miss.

    Scale shape: ONE Arrow-batched pandas UDF (zlib is row-local CPU,
    no shuffle, no collect); deterministic for a fixed ``level`` and
    zlib build (pytest pins Spark == driver-side ``zlib.compress``
    byte-for-byte on the real corpus — library-checked, never a hash
    oracle: DuckDB carries no deflate).  NULL text → NULL signals;
    empty text → ratio NULL (no bytes to compress), ``utf8_bytes`` 0.
    """
    import zlib

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    if not 0 <= level <= 9:
        raise ValueError(f"level must be in [0, 9], got {level}")
    out_t = StructType(
        [
            StructField("utf8_bytes", LongType()),
            StructField("zlib_ratio", DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def _sig(texts: pd.Series) -> pd.DataFrame:
        n_bytes, ratios = [], []
        for t in texts:
            if t is None:
                n_bytes.append(None)
                ratios.append(None)
                continue
            raw = t.encode("utf-8")
            n_bytes.append(len(raw))
            ratios.append(
                len(zlib.compress(raw, level)) / len(raw) if raw else None
            )
        return pd.DataFrame({"utf8_bytes": n_bytes, "zlib_ratio": ratios})

    # materialize the struct ONCE, then expand — two bare withColumn
    # calls on the UDF result would rely on CSE to avoid compressing
    # every row twice
    return (
        df.withColumn("__sig", _sig(F.col(text_col)))
        .withColumn(f"{prefix}utf8_bytes", F.col("__sig.utf8_bytes"))
        .withColumn(f"{prefix}zlib_ratio", F.col("__sig.zlib_ratio"))
        .drop("__sig")
    )
