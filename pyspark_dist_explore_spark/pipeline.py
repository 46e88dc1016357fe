"""End-to-end training-data curation pipeline (SURVEY.md §2.2 X1–X6
composed): the sequence a 100 TB corpus actually goes through before
training — quality filter → language filter → exact dedup → near-dup
cluster removal → deterministic split — as ONE lazy DataFrame program.

Stage shapes (the scale story, per stage):

1. **score + filter** — quality and language are row-local expressions
   (`textstats.quality_ratio_exprs` / `lang_pred_expr`) computed inline
   on the source scan: no join, no shuffle, and the survivors shrink
   every later stage.
2. **exact dedup** — `dedup.exact_dedup` on the md5 content fingerprint:
   one hash aggregate with map-side partials (min-struct survivor), the
   only full-corpus shuffle in the pipeline.
3. **near-dup clusters** — pluggable pair generator (`pair_fn`) feeding
   `dedup.neardup_clusters`; survivors only.  The default exact-Jaccard
   pair_fn is the oracle-able demo; at scale pass a MinHash one, e.g.
   ``lambda d: minhash_neardup(d, "__text", "doc_id", shingle_n=3)`` —
   banded LSH candidates instead of the quadratic token self-join.
4. **split** — `sampling.hash_split`: pure row-local md5 bucketing, no
   RNG, no shuffle; the same doc lands in the same split on every run.

Label state through stages 3–4 is (id, small scalars) — text never
travels past the pair generator.

Laziness caveat: CONSTRUCTION is not free.  ``neardup_clusters``
executes its propagation rounds with one count action per round
(materializing the round's lazily-checkpointed label state, and — in
round 1 — the edge list, i.e. the scoring scan, exact dedup, and the
pair self-join), all inside the ``curate_documents`` call.  The deduped
intermediate, which the pair generator, the cluster label init and the
final survivor join all read, is ``localCheckpoint``-ed (lazily — the
first downstream action runs it), or with ``snapshot_dir=...`` eagerly
WRITTEN to parquet and read back (durable, resumable, audit-able).
Only the RETURNED frame (survivor join + split) is lazy.
"""

from __future__ import annotations

from typing import Callable, Literal, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators import dedup
from pyspark_dist_explore_spark.operators.sampling import hash_split
from pyspark_dist_explore_spark.operators.textstats import (
    lang_pred_expr,
    quality_ratio_exprs,
)

PairFn = Callable[[DataFrame], DataFrame]


def minhash_pair_fn(
    *,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> PairFn:
    """Ready-made MinHash-LSH ``pair_fn`` for :func:`curate_documents` —
    the scale path that replaces the demo's quadratic exact-Jaccard
    self-join with banded candidate generation.

    The pair fn builds the ``(doc_id, sh)`` shingle rows ONCE and
    ``localCheckpoint``s them (lazily) before handing them to
    ``minhash_neardup`` via its staged ``shingle_rows=`` input: the four
    shingle consumers (signature agg, size agg, both verify sides) read
    the materialized blocks instead of re-running shingling + the
    upstream scoring scan 4×.  The blocks live until the driver-side
    reference is garbage-collected; pair generation is fully consumed
    inside the ``curate_documents`` call, so that is their lifetime.
    """

    def fn(kept: DataFrame) -> DataFrame:
        rows = dedup.shingle_rows(kept, "__text", "doc_id", shingle_n).localCheckpoint(
            eager=False
        )
        return dedup.minhash_neardup(
            kept,
            "__text",
            "doc_id",
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            shingle_rows=rows,
        )

    return fn


def containment_pair_fn(
    *,
    threshold: float = 0.8,
    k: int = 5,
    window: int = 4,
    max_df: int = 1000,
) -> PairFn:
    """Ready-made asymmetric-containment ``pair_fn`` for
    :func:`curate_documents` — catches the crawl shape symmetric
    Jaccard misses (a short article embedded verbatim in a long
    boilerplate page) and folds those pairs into the same cluster
    resolution, so the short-in-long copy and its host collapse to one
    survivor.  Bucketed like the MinHash path (pairs only through
    shared winnowing fingerprints, ``max_df`` boilerplate drop), so it
    is a drop-in scale-safe alternative/complement; to combine both
    signals union the two pair frames in a custom ``pair_fn``.
    ``containment_pairs`` stages its winnowing fingerprints itself.
    """

    def fn(kept: DataFrame) -> DataFrame:
        return dedup.containment_pairs(
            kept,
            "__text",
            "doc_id",
            threshold=threshold,
            k=k,
            window=window,
            max_df=max_df,
        ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))

    return fn


def semantic_pair_fn(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> PairFn:
    """Ready-made SEMANTIC ``pair_fn`` for :func:`curate_documents` —
    SemDeDup cluster removal by embedding similarity instead of lexical
    overlap: paraphrases and translations share no shingles, so the
    MinHash/containment paths cannot pair them; their embeddings can.

    ``embeddings`` is a ``(id_col, vec_col)`` frame keyed by the SAME
    ids as the documents' ``doc_id`` (the caller owns that mapping —
    typically the corpus embedding table).  The generator inner-joins
    the deduped survivors to their vectors (docs with no embedding emit
    no pairs and therefore survive untouched), assigns KMeans cells
    (capped fit — or fixed ``centroids=`` for deterministic incremental
    runs), and emits within-cell ≥ ``threshold`` cosine pairs via the
    blocked matmul (:func:`operators.similarity.semantic_pairs`).
    Combine with a lexical path by unioning pair frames in a custom
    ``pair_fn`` — the cluster-resolution stage is signal-agnostic.
    """
    from pyspark_dist_explore_spark.operators.similarity import semantic_pairs

    def fn(kept: DataFrame) -> DataFrame:
        emb = embeddings.select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__emb")
        )
        joined = kept.select("doc_id").join(emb, "doc_id")
        return semantic_pairs(
            joined,
            threshold=threshold,
            n_centroids=n_centroids,
            n_blocks=n_blocks,
            id_col="doc_id",
            vec_col="__emb",
            centroids=centroids,
        ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))

    return fn


def edit_verified_pair_fn(
    inner: PairFn,
    *,
    max_dist: int,
    prefix_len: int | None = 256,
) -> PairFn:
    """Wrap any ``pair_fn`` with X55 EDIT-DISTANCE VERIFICATION
    (:func:`~pyspark_dist_explore_spark.operators.dedup.
    edit_distance_pairs`): only candidate pairs within ``max_dist``
    Levenshtein edits (over the normalized, ``prefix_len``-truncated
    text) survive into cluster resolution.  Set-based generators link
    token-PERMUTED documents as readily as true near-copies; the edit
    gate keeps the character-level ones and releases the permutations —
    compose with :func:`union_pair_fns` to verify only the lexical
    signal while letting a semantic pair_fn through unverified.

    Cost: the banded DP is row-local on the candidate pairs (already
    banded/bounded by the inner generator) plus two id equi-joins to
    fetch texts — the verify never touches non-candidate rows.
    """

    def fn(kept: DataFrame) -> DataFrame:
        pairs = inner(kept)
        return dedup.edit_distance_pairs(
            kept,
            pairs,
            "__text",
            "doc_id",
            max_dist=max_dist,
            prefix_len=prefix_len,
        ).select("doc_a", "doc_b")

    return fn


def union_pair_fns(*fns: PairFn) -> PairFn:
    """Combine several ``pair_fn`` signals into one: the cluster stage
    resolves the UNION of all generators' edges, so e.g. a lexical
    MinHash pair and a SemDeDup embedding pair both pull their endpoints
    into the same duplicate cluster — a doc is removed if ANY signal
    links it to a kept survivor.  Each generator sees the same deduped
    frame; duplicate edges are dropped before resolution (labels are a
    min-aggregate, so duplicates would be harmless — dropping them just
    shrinks the per-round join).
    """
    if not fns:
        raise ValueError("union_pair_fns needs at least one pair_fn")

    def fn(kept: DataFrame) -> DataFrame:
        from functools import reduce

        frames = [f(kept).select("doc_a", "doc_b") for f in fns]
        return reduce(DataFrame.unionByName, frames).distinct()

    return fn


def _check_snapshot_dir_overwritable(spark, snapshot_dir: str) -> None:
    """Refuse to ``mode("overwrite")`` a non-empty directory that does not
    look like a previous snapshot (no ``_SUCCESS`` marker): a typo'd
    ``snapshot_dir`` would otherwise silently DELETE whatever was there.
    Uses the Hadoop FileSystem API so the check follows the path's scheme
    (local, HDFS, object store) exactly like the write that follows.

    The guard is best-effort insurance, not correctness: on sessions
    with no JVM handle (Spark Connect has no ``_jvm``/``_jsc``) it warns
    and degrades to write-with-no-guard instead of crashing.
    """
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(snapshot_dir)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return
        names = [s.getPath().getName() for s in fs.listStatus(jpath)]
    except Exception:
        import warnings

        warnings.warn(
            "snapshot_dir overwrite guard unavailable on this session "
            "(no JVM filesystem handle — e.g. Spark Connect); writing "
            "without the non-empty-directory check",
            RuntimeWarning,
            stacklevel=3,
        )
        return
    if names and "_SUCCESS" not in names:
        raise ValueError(
            f"snapshot_dir {snapshot_dir!r} exists, is non-empty, and has no "
            "_SUCCESS marker — refusing to overwrite a directory that was "
            "not written by a previous snapshot (possible typo'd path). "
            "Point snapshot_dir at an empty/new directory or a previous "
            "snapshot, or delete the directory explicitly."
        )


def curate_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_quality: float = 0.6,
    classifier_threshold: tuple[int, int] | None = None,
    classifier_weights: DataFrame | None = None,
    gopher_rules: dict | None = None,
    c4_rules: dict | None = None,
    allowed_langs: Sequence[str] | None = None,
    pair_fn: PairFn | None = None,
    jaccard_threshold: float = 0.9,
    neardup_keep_score: Column | None = None,
    neardup_keep_higher_is_better: bool = True,
    split_fractions: dict[str, float] | None = None,
    materialize: Literal[True] = True,
    snapshot_dir: str | None = None,
    scrub: bool = False,
    unicode_form: str | None = None,
    drop_boilerplate_lines: int | None = None,
    dedup_doc_lines: bool = False,
    span_dedup_k: int | None = None,
    temperature_coeff: float | None = None,
    take_targets: dict[str, int] | None = None,
    max_dup_token_frac: float | None = None,
    max_ppl: float | None = None,
    ppl_lm_counts: DataFrame | None = None,
    ppl_model: str = "unigram",
    decontaminate_against: DataFrame | None = None,
    decontam_ngram: int = 13,
    decontam_text_col: str | None = None,
    decontam_method: str = "ngram",
    decontam_bloom_bits: int | None = None,
    decontam_embeddings: DataFrame | None = None,
    decontam_cos_threshold: float = 0.95,
    token_budget: int | None = None,
    token_budgets: dict[str, int] | None = None,
    dsir_target: DataFrame | None = None,
    dsir_n_keep: int | None = None,
    dsir_n_buckets: int = 1 << 12,
    dsir_text_col: str | None = None,
    host_cap: tuple[str, int] | None = None,
    host_cap_salt: str = "cap0",
    strip_markup: bool = False,
    mixture_epochs: dict[str, int] | None = None,
    mixture_epochs_salt: str = "mix0",
    quality_top_frac: tuple[int, int] | None = None,
    prototype_keep_frac: tuple[int, int] | None = None,
    prototype_embeddings: DataFrame | None = None,
    prototype_n_domains: int = 16,
    prototype_centroids: DataFrame | None = None,
) -> DataFrame:
    """Curate a document corpus into a training keep-list.

    Returns one row per SURVIVING document:
    ``(doc_id, lang_pred, quality, split)`` — quality- and
    language-filtered, exact- and near-dup-deduplicated (cluster
    survivor = min doc id by default), deterministically split
    train/val/test.

    ``pair_fn`` maps the deduped frame (columns ``doc_id``, ``__text``)
    to near-dup pairs ``(doc_a, doc_b, ...)``; default is the exact
    token-Jaccard self-join at ``jaccard_threshold`` (SQL-expressible →
    DuckDB-oracle-checkable).  ``allowed_langs=None`` skips the language
    filter.

    ``neardup_keep_score`` (X60) switches cluster survivor election
    from min-id to keep-the-best: a Column expression evaluated over
    the post-exact-dedup frame (original columns + ``__text``), e.g.
    ``F.length("__text")`` or a pre-joined classifier/perplexity
    column (``neardup_keep_higher_is_better=False`` for cost-style
    scores).  Ties and score-less docs fall back to min id, so a
    constant score is exactly the default convention.

    The deduped intermediate, which three downstream consumers re-read
    (the pair generator, the cluster label init, the final survivor
    join), is ``localCheckpoint``-ed lazily — one scoring scan instead
    of three.  When any text rewrite runs (``unicode_form``,
    ``c4_rules``, ``drop_boilerplate_lines``, ``dedup_doc_lines``,
    ``span_dedup_k``), the rewritten corpus is checkpointed the same
    way, so the downstream gates and fingerprints do not re-run the
    rewrite chain per scan.  ``snapshot_dir`` is the 100 TB form of the
    deduped checkpoint: the deduped stage is written to parquet there
    (eager, one scoring scan) and every downstream consumer reads the
    files back — durable across executor loss, resumable, and the
    snapshot doubles as the audit copy of the post-dedup corpus.  The
    write refuses a non-empty ``snapshot_dir`` that lacks a
    ``_SUCCESS`` marker (i.e. anything that is not a previous snapshot)
    so a typo'd path can't silently delete data.  ``materialize`` is
    accepted for existing callers and must be True; staging is not
    optional.

    ``strip_markup=True`` (opt-in) rewrites the text through
    the X51 heuristic markup stripper FIRST among the text rewrites —
    decoded entities feed the unicode fold below, and every downstream
    gate/fingerprint sees prose instead of tags (crawl text that
    arrives as WET-like extractions skips it).

    ``unicode_form="NFC"`` (opt-in) runs Unicode canonicalization
    before every other stage (:func:`operators.dedup.normalize_unicode`
    — NFC/NFKC fold + control-char strip), so NFD-vs-NFC byte variants
    of the same text collapse into one dedup bucket instead of
    surviving as "distinct" documents.

    ``host_cap=(key_col, n)`` (opt-in, X41) keeps at most ``n`` docs
    per ``key_col`` value BEFORE any content stage — the C4/FineWeb
    per-URL/host dedup policy (:func:`operators.sampling.cap_per_key`,
    md5-rank deterministic; ``host_cap_salt`` re-draws the kept set).
    ``key_col`` may be a Column expression — e.g.
    ``host_cap=(url_host(F.col("url")), 1000)`` caps per CANONICAL host
    (:func:`operators.dedup.url_host`, X42) without a pre-projection.

    ``prototype_keep_frac=(num, den)`` + ``prototype_embeddings=``
    (opt-in, X52 — the D4 order: dedup FIRST, then diversify) drop the
    most PROTOTYPICAL deduped survivors per discovered embedding domain
    and keep the diverse shell; survivors without an embedding row are
    KEPT (they cannot be prototypical of anything measurable — silently
    dropping them would make the stage lossy on partially-embedded
    corpora).  ``prototype_centroids=`` pins the domains (the
    fit-once/assign-forever production form and the deterministic test
    form); default is a capped KMeans fit per run.

    ``quality_top_frac=(num, den)`` (opt-in, X45) replaces-or-joins the
    absolute ``min_quality`` cutoff with the RELATIVE per-language form
    — keep the best ``ceil(num·n/den)`` of every language by the
    heuristic score (:func:`operators.sampling.top_frac_per_group`,
    md5 tie-break): the per-source threshold shape DCLM-class
    pipelines use because absolute cutoffs don't transfer across
    languages; applied right after ``min_quality``, before the model
    gate.

    ``mixture_epochs={lang: token_target}`` (opt-in, X44) runs LAST:
    the surviving corpus is materialized into the multi-epoch training
    stream (:func:`operators.sampling.materialize_mixture` — full
    epochs by ``target // available`` plus an md5-prefix partial under
    the running token sum), UP-sampling small high-quality languages
    the way ``token_budgets`` can only shrink them; the result gains a
    1-based ``epoch`` column and languages missing from the dict drop.
    ``mixture_epochs_salt`` re-draws the partial-epoch prefix.

    ``classifier_threshold=(num, den)`` (opt-in) adds the MODEL-based
    quality gate after the heuristic one (X29,
    :func:`operators.textstats.classifier_score` — the fastText-shaped
    hashed n-gram linear filter CCNet/DCLM pipelines run): keep iff the
    document's integer logit sum clears ``num/den`` per gram.  With the
    default inline weights it is a pure predicate on the SAME scan
    (zero cost at any scale); ``classifier_weights=`` serves an
    offline-trained ``(bucket, weight)`` table via the broadcast-join
    form plus one semi-join.  Like ``min_quality`` it sees the
    post-scrub text.

    ``dsir_target=`` + ``dsir_n_keep=`` (opt-in) run X30 DSIR data
    SELECTION on the deduped survivor pool — keep the ``n_keep``
    documents whose hashed-n-gram distribution best matches the target
    corpus (a ``(id_col, text_col)`` frame; ``dsir_text_col=``
    overrides its text column).  Selection happens after dedup and
    before the mixture stages (the DSIR/DCLM ordering), and the kept
    id set broadcasts back — no extra corpus shuffle.

    ``gopher_rules={...}`` (opt-in) adds the RULE-based Gopher/
    MassiveText quality gate (X31,
    :func:`operators.textstats.gopher_quality_gate` — Rae et al. 2021
    A1.1): word-count bounds, mean word length, symbol/bullet/ellipsis
    ratios, alpha-word fraction, stop-word rule — every rule an integer
    cross-multiplied comparison evaluated as a row-local predicate on
    the same scan (``{}`` = the paper's published bounds; the dict
    passes :func:`gopher_keep_expr`'s knobs).  Sees the post-scrub
    text, like every quality gate here.

    ``c4_rules={...}`` (opt-in) runs the X37 C4 cleaning heuristics
    (Raffel et al. 2020 §2.2, :func:`operators.textstats.with_c4_gate`)
    FIRST among the text-rewriting stages, exactly as the published
    pipeline did: lines failing the retention rules are REMOVED (the
    retained lines replace the page text for every downstream stage)
    and pages failing the page rules are dropped.  Two pages differing
    only in junk lines become exact duplicates here and collapse in
    the dedup stage.  ``{}`` = the paper's bounds; the dict passes
    ``with_c4_gate``'s knobs (``min_words_per_line``,
    ``min_sentences``, ``bad_words``, ``line_sep``).

    ``scrub=True`` redacts PII-shaped spans (`textstats.scrub_text`
    patterns) BEFORE anything else, so quality scoring, fingerprinting,
    near-dup detection and the surviving corpus all see the scrubbed
    text — still a row-local expression, no extra scan or shuffle.
    ``max_dup_token_frac`` drops documents whose Gopher-style duplicate
    -token fraction exceeds the bound (boilerplate / word-salad filter);
    this one costs a token explode + per-doc aggregate + anti join on
    the already-filtered survivors, so it is opt-in.

    ``drop_boilerplate_lines=n`` (opt-in) runs FineWeb-style line-level
    dedup BEFORE everything else (:func:`operators.textstats
    .drop_repeated_lines` at ``min_df=n``): lines shared by ≥ n docs
    (nav bars, footers) vanish from every doc, so quality scoring,
    fingerprints, and near-dup detection see the cleaned text; a doc
    that was all boilerplate becomes an empty husk and falls to the
    quality bar.  Costs two extra corpus shuffles — opt-in.
    ``dedup_doc_lines=True`` additionally removes INTRA-doc repetition
    (:func:`operators.textstats.dedup_lines_within_doc` — first
    occurrence of each trimmed line per doc, the Gopher in-page axis);
    it runs after the cross-doc stage, costs one per-doc shuffle.

    ``max_ppl`` (opt-in) drops documents whose unigram-LM perplexity
    exceeds the bound (:func:`operators.textstats
    .unigram_logprob_scores` — the CCNet-style gibberish/boilerplate
    filter).  ``ppl_lm_counts=`` scores against a reference-corpus LM
    (a ``(term, cnt)`` frame — the realistic shape: train the LM on a
    clean snapshot once, reuse per batch); default self-trains on the
    already-filtered survivors.  Anti-join against violators, so
    zero-token docs (which have no score row) pass through — same
    contract as the repetition filter.  ``ppl_model="bigram"`` swaps in
    the word-order-aware interpolated bigram scorer
    (:func:`operators.textstats.bigram_logprob_scores`, self-trained)
    — it additionally flags word salad built from common words, which
    unigram perplexity cannot see; ``ppl_model="kn"`` swaps
    in Kneser-Ney smoothing
    (:func:`operators.textstats.kn_bigram_logprob_scores`) — the
    canonical absolute-discount/continuation-backoff form.

    ``decontaminate_against`` (opt-in) drops documents sharing any
    ``decontam_ngram``-token word n-gram with the given eval/benchmark
    frame (text column ``decontam_text_col``, default ``text_col``) —
    the standard leakage guard before training.  Cost: one gram build
    over the already-filtered survivors probed against a broadcast
    distinct gram set of the (benchmark-sized) eval corpus
    (:func:`operators.decontam.contaminated_ids`).  When ``scrub=True``
    the TRAINING side is compared post-scrub; scrub the eval frame
    yourself if its text carries the same PII spans.
    ``decontam_method="embedding"`` swaps the lexical probe for SEMANTIC
    matching: ``decontaminate_against`` is then an eval EMBEDDING frame
    and ``decontam_embeddings`` maps this corpus's ids to vectors (both
    ``(vec_id, embedding)``); a doc within ``decontam_cos_threshold``
    cosine of any eval item drops
    (:func:`operators.decontam.semantic_contaminated_ids` — catches the
    paraphrased/translated test items n-grams cannot).
    ``decontam_bloom_bits=N`` (ngram method only) opts into the
    huge-eval scale path: a Bloom bitmap of the eval grams prefilters
    the training gram stream Arrow-side and only bloom hits reach the
    exact verify semi-join — identical result, and the training grams
    never shuffle (:func:`operators.decontam.contaminated_ids`).
    ``decontam_method="winnow"`` swaps the exact n-gram probe for
    winnowing fingerprints (:func:`operators.decontam.
    decontaminate_winnow` with ``k=5``, ``window=decontam_ngram-4``, so
    any shared passage of ≥ ``decontam_ngram`` tokens is still
    guaranteed flagged) — ~``window``× less broadcast/probe volume for
    eval corpora too big to ship whole; may additionally drop docs
    sharing only a shorter (≥ 5-token) passage, which for a leakage
    guard errs in the safe direction.

    ``span_dedup_k=k`` (opt-in) runs ExactSubstr-style duplicate-SPAN
    removal (:func:`operators.textstats.drop_duplicate_spans`) after
    the line-dedup stages and before scoring: any ``k``-token window
    duplicated corpus-wide vanishes from every occurrence, so quality
    scoring, fingerprints, and near-dup detection see span-cleaned
    text; a doc that was one big duplicated quote becomes an empty husk
    and falls to the quality bar.  Costs the gram aggregate + rebuild
    shuffles — opt-in.

    ``temperature_coeff`` / ``take_targets`` (opt-in, mutually
    exclusive) are the MIXTURE controls, applied to the post-dedup
    survivors keyed by ``lang_pred`` and BEFORE any token budget:
    ``temperature_coeff=c`` keeps each language at rate
    ``min(1, c/√n)`` (:func:`operators.sampling.temperature_resample`,
    τ=0.5 — expected counts ∝ √n, the multilingual flattening recipe);
    ``take_targets={lang: n}`` keeps EXACTLY ``min(n, available)`` docs
    per language in content-hash order (:func:`operators.sampling
    .stratified_take_exact` — languages missing from the dict drop).

    ``token_budget`` (opt-in) caps the SURVIVING corpus at a total
    token budget, best quality first (`sampling.select_by_token_budget`
    on the post-dedup survivors — whitespace token counts computed
    inline from the pipeline's text).  ``token_budgets`` is the
    per-language mixture form (keyed by ``lang_pred``); pass one or the
    other.  Both run before the split, so train/val/test stay
    proportional within the budgeted corpus.
    """
    from pyspark_dist_explore_spark.operators.textstats import (
        SCRUB_PATTERNS,
        repetition_signals,
    )

    if materialize is not True:
        raise ValueError("curate_documents always stages its intermediates; drop materialize=")
    if host_cap is not None:
        # X41: per-host/URL document cap FIRST of every stage — the
        # C4/FineWeb policy order (cap on metadata before any content
        # work, so a mirror farm's thousandth copy never costs a
        # fingerprint, a shingle, or a quality score).  host_cap =
        # (key_col, n): at most n docs per key, md5-rank deterministic
        # (operators.sampling.cap_per_key — one window exchange)
        from pyspark_dist_explore_spark.operators.sampling import cap_per_key

        cap_key, cap_n = host_cap
        docs = cap_per_key(docs, cap_key, id_col, cap_n, salt=host_cap_salt)

    if strip_markup:
        # X51: markup off FIRST among the text rewrites — entities
        # decode into characters the unicode fold below canonicalizes,
        # and no gate/fingerprint should ever score tags (row-local
        # regex chain, rides the same scan)
        from pyspark_dist_explore_spark.operators.dedup import (
            strip_markup as _strip_markup,
        )

        docs = docs.withColumn(text_col, _strip_markup(F.col(text_col)))

    if unicode_form is not None:
        # Unicode canonicalization FIRST (opt-in): a multilingual crawl
        # mixes NFC and NFD encoders, and without the fold the two byte
        # forms of one string defeat every fingerprint/near-dup stage
        # below (operators.dedup.normalize_unicode; Arrow-batched,
        # row-local, no shuffle)
        from pyspark_dist_explore_spark.operators.dedup import normalize_unicode

        docs = normalize_unicode(
            docs, text_col, id_col, form=unicode_form
        ).select(F.col("doc_id").alias(id_col), F.col("text").alias(text_col))

    if c4_rules is not None:
        # X37: the C4 cleaning heuristics as the published pipeline ran
        # them — FIRST of the text-rewriting stages: failing pages drop,
        # and the RETAINED LINES REPLACE the page text, so every
        # fingerprint/quality/dedup stage below sees the cleaned text
        # (two pages differing only in junk lines become exact dups
        # here and collapse in the dedup stage).  Row-local staged
        # projection, zero joins/shuffles; the dict passes
        # :func:`operators.textstats.with_c4_gate`'s knobs ({} = the
        # paper's bounds)
        from pyspark_dist_explore_spark.operators.textstats import with_c4_gate

        docs = (
            with_c4_gate(docs, F.col(text_col), **c4_rules)
            .where(F.col("c4_keep") == 1)
            .withColumn(text_col, F.col("__c4_kept"))
            .drop("__c4_kept", "c4_keep")
        )

    if drop_boilerplate_lines is not None:
        # corpus-wide line-level boilerplate removal FIRST, so quality
        # scoring, fingerprints, and near-dup detection all see the
        # cleaned text; a doc that was all boilerplate becomes an empty
        # husk and falls to the quality bar like any other junk doc
        from pyspark_dist_explore_spark.operators.textstats import (
            drop_repeated_lines,
        )

        docs = drop_repeated_lines(
            docs, text_col, id_col, min_df=drop_boilerplate_lines
        ).select(F.col("doc_id").alias(id_col), F.col("text").alias(text_col))

    if dedup_doc_lines:
        # Gopher-style INTRA-doc repetition removal (first occurrence of
        # each trimmed line per doc) — runs after the cross-doc stage so
        # a nav block that is both self-repeated and corpus-common is
        # fully gone either way
        from pyspark_dist_explore_spark.operators.textstats import (
            dedup_lines_within_doc,
        )

        docs = dedup_lines_within_doc(docs, text_col, id_col).select(
            F.col("doc_id").alias(id_col), F.col("text").alias(text_col)
        )

    if span_dedup_k is not None:
        # ExactSubstr-style duplicated-span removal LAST of the
        # text-rewriting stages (a span that line dedup already removed
        # costs nothing here); every downstream signal sees the
        # span-cleaned text
        from pyspark_dist_explore_spark.operators.textstats import (
            drop_duplicate_spans,
        )

        docs = drop_duplicate_spans(docs, text_col, id_col, k=span_dedup_k).select(
            F.col("doc_id").alias(id_col), F.col("text").alias(text_col)
        )

    rewrote = any(
        (
            unicode_form is not None,
            c4_rules is not None,
            drop_boilerplate_lines is not None,
            dedup_doc_lines,
            span_dedup_k is not None,
        )
    )
    if rewrote:
        # stage the REWRITTEN corpus once (BASELINE.md: full-config 1×
        # run 70.1 → 36.9 s, identical survivors): every downstream
        # consumer — the span/line aggregates, repetition signals, the
        # ppl fit AND score passes, decontamination, fingerprints, the
        # pair generator — otherwise re-executes the whole NFC → C4 →
        # line → span rewrite chain per scan.  Lazy: the first
        # downstream action materializes it.
        # When this mark sits BELOW another lazy mark in one job's
        # lineage (e.g. under neardup_clusters' round state), the
        # default checkpointAllMarkedAncestors=false materializes it as
        # CACHE blocks with lineage intact rather than a true
        # checkpoint — identical rows and reuse; only block loss on a
        # cluster recomputes upstream (set the conf true for strict
        # truncation).
        docs = docs.localCheckpoint(eager=False)

    t = F.col(text_col)
    if scrub:
        for _, pat in SCRUB_PATTERNS:
            t = F.regexp_replace(t, pat, "<redacted>")
    _, _, quality = quality_ratio_exprs(t)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        t.alias("__text"),
        quality.alias("quality"),
        lang_pred_expr(t).alias("lang_pred"),
    ).where(F.col("quality") >= F.lit(min_quality))
    if quality_top_frac is not None:
        # X45: per-language top fraction by the heuristic score — the
        # relative form of the min_quality gate (absolute cutoffs do
        # not transfer across languages whose score scales differ)
        from pyspark_dist_explore_spark.operators.sampling import (
            top_frac_per_group,
        )

        base = top_frac_per_group(
            base, "lang_pred", "quality", quality_top_frac, "doc_id"
        )
    if classifier_threshold is not None:
        # model-based quality gate (X29): the fastText-shaped hashed
        # n-gram linear classifier, thresholded as a rational over the
        # integer weight grid.  Inline weights ride the SAME projection
        # (zero extra scans/shuffles); an offline-trained weights table
        # scores via the broadcast-join form + one semi-join
        from pyspark_dist_explore_spark.operators.textstats import (
            classifier_exprs,
            classifier_score,
        )

        if classifier_weights is None:
            keep = classifier_exprs(
                F.col("__text"), threshold=classifier_threshold
            )[2]
            base = base.where(keep == 1)
        else:
            scored = classifier_score(
                base,
                "__text",
                "doc_id",
                threshold=classifier_threshold,
                weights=classifier_weights,
            )
            base = base.join(
                scored.where(F.col("cls_keep") == 1).select("doc_id"),
                "doc_id",
                "leftsemi",
            )
    if gopher_rules is not None:
        # rule-based quality gate (X31): the Gopher/MassiveText rule
        # set as integer cross-multiplied comparisons — a row-local
        # filter, no join or shuffle; the kwargs dict exposes the
        # corpus-length-scale knobs ({} = the paper's published bounds)
        from pyspark_dist_explore_spark.operators.textstats import with_gopher_gate

        keep_cols = base.columns
        base = (
            with_gopher_gate(base, F.col("__text"), **gopher_rules)
            .where(F.col("gq_keep") == 1)
            .select(*keep_cols)
        )
    if allowed_langs is not None:
        base = base.where(F.col("lang_pred").isin(list(allowed_langs)))
    if max_dup_token_frac is not None:
        # anti-join against VIOLATORS (not semi-join against survivors):
        # zero-token docs emit no repetition row at all, and they must
        # pass through unfiltered — the filter's contract is "drop docs
        # whose dup-token fraction exceeds the bound", and a doc with no
        # tokens exceeds nothing
        bad = repetition_signals(base, "__text", "doc_id").where(
            F.col("dup_token_frac") > F.lit(float(max_dup_token_frac))
        )
        base = base.join(bad.select("doc_id"), "doc_id", "left_anti")
    if max_ppl is not None:
        from pyspark_dist_explore_spark.operators.textstats import (
            bigram_logprob_scores,
            unigram_logprob_scores,
        )

        if ppl_model == "unigram":
            scores = unigram_logprob_scores(
                base, "__text", "doc_id", lm_counts=ppl_lm_counts
            )
        elif ppl_model == "bigram":
            # word-order-aware scoring: flags salad with common words in
            # impossible order, which the unigram scorer cannot see.
            # Self-trained only here — a reference bigram LM needs two
            # frames; call bigram_logprob_scores directly for that shape.
            if ppl_lm_counts is not None:
                raise ValueError(
                    "ppl_model='bigram' self-trains; pass reference LMs via "
                    "bigram_logprob_scores(lm_unigrams=, lm_bigrams=) directly"
                )
            scores = bigram_logprob_scores(base, "__text", "doc_id")
        elif ppl_model == "kn":
            # Kneser-Ney smoothing (X54): the canonical
            # count-LM smoothing — continuation-unigram backoff scores
            # context DIVERSITY, not frequency.  Self-trained here;
            # reference LMs go through kn_bigram_logprob_scores
            # (lm_bigrams=) directly, same contract as 'bigram'.
            if ppl_lm_counts is not None:
                raise ValueError(
                    "ppl_model='kn' self-trains; pass a reference LM via "
                    "kn_bigram_logprob_scores(lm_bigrams=) directly"
                )
            from pyspark_dist_explore_spark.operators.textstats import (
                kn_bigram_logprob_scores,
            )

            scores = kn_bigram_logprob_scores(base, "__text", "doc_id")
        else:
            raise ValueError(
                f"ppl_model must be 'unigram', 'bigram' or 'kn', got {ppl_model!r}"
            )
        bad_ppl = scores.where(F.col("ppl") > F.lit(float(max_ppl))).select("doc_id")
        base = base.join(bad_ppl, "doc_id", "left_anti")
    if decontaminate_against is not None:
        from pyspark_dist_explore_spark.operators import decontam

        if decontam_method == "ngram":
            # decontam_bloom_bits=N opts into the huge-eval scale path
            # (Bloom prefilter over the training gram stream + exact
            # verify — result identical to the plain probe)
            flagged = decontam.contaminated_ids(
                base,
                decontaminate_against,
                "__text",
                "doc_id",
                ngram_n=decontam_ngram,
                eval_text_col=decontam_text_col or text_col,
                bloom_bits=decontam_bloom_bits,
            )
        elif decontam_method == "winnow":
            k = 5
            if decontam_ngram < k + 1:
                raise ValueError(
                    f"decontam_method='winnow' needs decontam_ngram >= {k + 1}, "
                    f"got {decontam_ngram}"
                )
            flagged = (
                decontam.decontaminate_winnow(
                    base,
                    decontaminate_against,
                    "__text",
                    "doc_id",
                    k=k,
                    window=decontam_ngram - k + 1,
                    eval_text_col=decontam_text_col or text_col,
                )
                .where(F.col("contaminated") == 1)
                .select("doc_id")
            )
        elif decontam_method == "embedding":
            # SEMANTIC leakage: decontaminate_against is an EVAL EMBEDDING
            # frame (vec_id, embedding) and decontam_embeddings maps this
            # corpus's doc ids to their embeddings (same (vec_id,
            # embedding) shape) — paraphrased/translated test items share
            # no n-gram with their source but sit next to it in embedding
            # space; docs with no embedding row emit no flag
            if decontam_embeddings is None:
                raise ValueError(
                    "decontam_method='embedding' needs decontam_embeddings= "
                    "(the corpus-side (vec_id, embedding) frame)"
                )
            emb = decontam_embeddings.select(
                F.col("vec_id").alias("doc_id"), "embedding"
            )
            train_emb = base.select("doc_id").join(emb, "doc_id")
            flagged = decontam.semantic_contaminated_ids(
                train_emb,
                decontaminate_against,
                threshold=decontam_cos_threshold,
                id_col="doc_id",
                vec_col="embedding",
                eval_id_col="vec_id",
            ).select("doc_id")
        else:
            raise ValueError(
                f"decontam_method must be 'ngram', 'winnow', or 'embedding', "
                f"got {decontam_method!r}"
            )
        base = base.join(flagged, "doc_id", "left_anti")

    fp = base.withColumn("__fp", F.md5(dedup.normalize_text(F.col("__text"))))
    kept = dedup.exact_dedup(fp, ["__fp"], "doc_id").drop("__fp")
    if snapshot_dir is not None:
        _check_snapshot_dir_overwritable(docs.sparkSession, snapshot_dir)
        kept.write.mode("overwrite").parquet(snapshot_dir)
        kept = docs.sparkSession.read.parquet(snapshot_dir)
    else:
        # nested-mark caveat: see the rewritten-corpus checkpoint above
        kept = kept.localCheckpoint(eager=False)

    if pair_fn is None:
        pair_fn = lambda d: dedup.jaccard_pairs_exact(  # noqa: E731
            d, "__text", "doc_id", threshold=jaccard_threshold
        )
    clusters = dedup.neardup_clusters(
        pair_fn(kept), all_ids=kept.select("doc_id")
    )
    if neardup_keep_score is not None:
        # X60: re-elect each cluster's keeper by quality instead of the
        # min-id convention — the score expression is evaluated over the
        # post-exact-dedup frame (original columns + __text), so callers
        # can rank by F.length("__text"), a classifier column, or a
        # joined-in perplexity.  One extra score scan + two label-sized
        # aggregates; the propagation itself is not re-run.
        clusters = dedup.cluster_best_survivors(
            clusters,
            kept.select("doc_id", neardup_keep_score.alias("score")),
            higher_is_better=neardup_keep_higher_is_better,
        )
    survivors = clusters.where(F.col("is_survivor") == 1).select("doc_id")

    out = kept.join(survivors, "doc_id")
    if (prototype_keep_frac is None) != (prototype_embeddings is None):
        raise ValueError(
            "prototype_keep_frac= and prototype_embeddings= go together"
        )
    if prototype_keep_frac is not None:
        # X52: D4 diversification AFTER dedup (the paper's order —
        # SemDeDup/near-dup first, then drop the redundant mass near
        # each cluster center).  Anti-join against the DROPPED ids (the
        # violator convention): un-embedded survivors never appear in
        # the scored set, so they pass through untouched
        from pyspark_dist_explore_spark.operators.similarity import (
            prune_prototypes,
        )

        emb = prototype_embeddings.select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        survivors_emb = out.select("doc_id").join(emb, "doc_id")
        kept_proto = prune_prototypes(
            survivors_emb,
            prototype_keep_frac,
            centroids=prototype_centroids,
            n_domains=prototype_n_domains,
            id_col="doc_id",
            vec_col="embedding",
        ).select("doc_id")
        drop_ids = survivors_emb.select("doc_id").join(
            kept_proto, "doc_id", "leftanti"
        )
        out = out.join(drop_ids, "doc_id", "leftanti")
    if (dsir_target is None) != (dsir_n_keep is None):
        raise ValueError("dsir_target= and dsir_n_keep= go together")
    if dsir_target is not None:
        # X30 data SELECTION on the deduped survivor pool (the DSIR/DCLM
        # ordering: clean + dedup first, then keep the n docs most like
        # the target mix); the kept id set semi-joins back onto the
        # corpus — broadcast when provably head-sized, shuffled semi
        # otherwise
        from pyspark_dist_explore_spark.operators.dsir import (
            dsir_scores,
            dsir_topk,
        )

        tgt = dsir_target
        if (dsir_text_col or text_col) != "__text":
            tgt = dsir_target.select(
                F.col(id_col).alias("doc_id"),
                F.col(dsir_text_col or text_col).alias("__text"),
            )
        scored = dsir_scores(
            out.select("doc_id", "__text"),
            "__text",
            "doc_id",
            target=tgt,
            n_buckets=dsir_n_buckets,
        )
        from pyspark_dist_explore_spark.operators.dsir import DSIR_TOPK_DRIVER_MAX

        keep_ids = dsir_topk(scored, dsir_n_keep).select("doc_id")
        # broadcast only when the keep set is provably small; a
        # production DSIR selection keeps millions of docs — forcing a
        # broadcast there would ship (and driver-collect) the whole
        # selection, so large keeps fall through to a shuffled semi
        # (AQE still picks broadcast at runtime if the side turns out
        # small enough)
        if dsir_n_keep <= DSIR_TOPK_DRIVER_MAX:
            keep_ids = F.broadcast(keep_ids)
        out = out.join(keep_ids, "doc_id", "leftsemi")
    if temperature_coeff is not None and take_targets is not None:
        raise ValueError("pass temperature_coeff OR take_targets, not both")
    if temperature_coeff is not None:
        # mixture flattening BEFORE any token budget: reweight the
        # language mix first, then budget best-quality within it
        from pyspark_dist_explore_spark.operators.sampling import (
            temperature_resample,
        )

        out = temperature_resample(
            out, "lang_pred", "doc_id", coeff=temperature_coeff
        )
    if take_targets is not None:
        from pyspark_dist_explore_spark.operators.sampling import (
            stratified_take_exact,
        )

        out = stratified_take_exact(out, "lang_pred", "doc_id", take_targets)
    if token_budget is not None and token_budgets is not None:
        raise ValueError("pass token_budget OR token_budgets, not both")
    if token_budget is not None or token_budgets is not None:
        from pyspark_dist_explore_spark.operators.sampling import (
            select_by_token_budget,
            select_by_token_budget_stratified,
        )

        n_tok = dedup.n_tokens(F.col("__text"))
        out = out.withColumn("__n_tok", n_tok)
        if token_budgets is not None:
            out = select_by_token_budget_stratified(
                out, "lang_pred", "quality", "__n_tok", token_budgets
            )
        else:
            out = select_by_token_budget(out, "quality", "__n_tok", token_budget)
        out = out.drop("__n_tok")
    if mixture_epochs is not None:
        from pyspark_dist_explore_spark.operators.sampling import (
            materialize_mixture,
        )

        n_tok = dedup.n_tokens(F.col("__text"))
        out = materialize_mixture(
            out.withColumn("__n_tok", n_tok),
            "lang_pred",
            "__n_tok",
            "doc_id",
            mixture_epochs,
            salt=mixture_epochs_salt,
        ).drop("__n_tok")
    out = out.drop("__text")
    final = hash_split(out, "doc_id", fractions=split_fractions).select(
        "doc_id",
        "lang_pred",
        "quality",
        "split",
        *(["epoch"] if mixture_epochs is not None else []),
    )
    return final


def curation_funnel(
    flags: DataFrame,
    gate_cols: Sequence[str],
    *,
    group_col: str | None = None,
    token_col: str | None = None,
) -> DataFrame:
    """X38: per-gate drop attribution — the observability card every
    production curation pipeline reads before touching a threshold:
    for each quality gate, how many documents fail it, how many fail
    ONLY it (the docs that gate alone is responsible for losing), and
    how many survive the whole conjunction.

    ``flags``: a frame carrying one 0/1 INT column per gate (however
    the caller built them — ride an existing scan with the importable
    gate expressions: :func:`~pyspark_dist_explore_spark.operators.
    textstats.gopher_keep_expr`, ``classifier_exprs``,
    ``c4_clean``'s keep, a quality threshold).  ``gate_cols`` orders
    the report.  ``group_col=None`` reports one ``'ALL'`` row.

    Output per group: ``(group, n_docs, {g}_fail, {g}_fail_only …,
    n_survivors)`` — all exact BIGINT counts (class A).

    ``token_col`` (round 11) adds the TOKEN-weighted mirror of every
    count: training-data decisions are made in tokens, not documents —
    a gate that drops 1% of docs but 30% of tokens (it kills the long
    ones) reads completely differently in the weighted card.  Adds
    ``n_tokens``, ``{g}_fail_tokens``, ``{g}_fail_only_tokens`` and
    ``survivor_tokens`` — the same row-local 0/1 arithmetic multiplied
    by the per-row token count, still exact BIGINTs on the same single
    aggregate (zero extra scans or exchanges).  A row whose token count
    is NULL weighs 0 in every ``_tokens`` column but still counts in
    every doc column — the two cards describe the same rows.

    Scale shape: ONE hash aggregate over row-local 0/1 arithmetic —
    map-side partials collapse every partition to ≤ |groups| rows, so
    the shuffle is group-sized regardless of corpus size; no join, no
    second scan, no Python.  This is why the report is effectively
    free when the flags ride the scoring scan the pipeline already
    pays for.
    """
    if not gate_cols:
        raise ValueError("gate_cols must name at least one 0/1 gate column")
    g = (
        F.coalesce(F.col(group_col).cast("string"), F.lit(""))
        if group_col is not None
        else F.lit("ALL")
    )

    def prod(cols: Sequence[str]) -> F.Column:
        out = F.lit(1)
        for c in cols:
            out = out * F.col(c)
        return out

    # NULL token counts weigh 0: the doc still counts in every doc
    # column, so the doc and token cards always describe the same row
    # set (r11 advisor catch — bare SUM skips NULLs, silently divorcing
    # n_docs from n_tokens on rows the tokenizer never reached)
    tok = (
        F.coalesce(F.col(token_col).cast("bigint"), F.lit(0))
        if token_col is not None
        else None
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    if tok is not None:
        aggs.append(F.sum(tok).cast("bigint").alias("n_tokens"))
    for gc in gate_cols:
        others = [c for c in gate_cols if c != gc]
        aggs.append(
            F.sum(F.lit(1) - F.col(gc)).cast("bigint").alias(f"{gc}_fail")
        )
        aggs.append(
            F.sum((F.lit(1) - F.col(gc)) * prod(others))
            .cast("bigint")
            .alias(f"{gc}_fail_only")
        )
        if tok is not None:
            aggs.append(
                F.sum((F.lit(1) - F.col(gc)) * tok)
                .cast("bigint")
                .alias(f"{gc}_fail_tokens")
            )
            aggs.append(
                F.sum((F.lit(1) - F.col(gc)) * prod(others) * tok)
                .cast("bigint")
                .alias(f"{gc}_fail_only_tokens")
            )
    aggs.append(F.sum(prod(list(gate_cols))).cast("bigint").alias("n_survivors"))
    if tok is not None:
        aggs.append(
            F.sum(prod(list(gate_cols)) * tok)
            .cast("bigint")
            .alias("survivor_tokens")
        )
    cols = list(gate_cols) + ([token_col] if token_col is not None else [])
    return flags.select(g.alias("group"), *cols).groupBy("group").agg(*aggs)
