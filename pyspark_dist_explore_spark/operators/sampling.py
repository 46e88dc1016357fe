"""Sampling / dataset-split operators for training-data pipelines.

``hash_split`` is the canonical deterministic train/val/test assignment:
bucket by a stable content hash of the key, not by RNG — the same row
lands in the same split on every run, every engine, any partitioning.
The hash is md5 (available and identical in Spark and DuckDB), read as
the integer of its leading 4 hex digits (``functions/hashing.py``), so
the DuckDB oracle renders the exact same logic and the split is
auditable in plain SQL.

``stratified_sample_hash`` applies the same md5-bucket scheme
PER-STRATUM: keep a row when its content-hash bucket falls below the
stratum's fraction.  Fully deterministic and engine-portable (DuckDB
oracle renders the identical CASE), unlike the seeded-RNG
``stratified_sample`` (Spark ``sampleBy``), which is kept for API parity
with Spark's own sampling surface but is only rows-only checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.hashing import (
    hex_int,
    hex_int_sql,
    salted_md5,
    salted_md5_sql,
)


def _check_shards(shards: int) -> int:
    if not 1 <= shards <= 65536:
        raise ValueError(
            f"shards/buckets must be in [1, 65536] (the md5 draw has 16 bits), "
            f"got {shards}"
        )
    return shards


def _shard16(h: Column, shards: int) -> Column:
    """INT shard of an md5 hex column: its leading 16 bits mod ``shards``.
    Non-power-of-two counts carry a mod bias of at most 1/65536."""
    return (hex_int(h, 1, 4) % _check_shards(shards)).cast("int")


def _shard16_sql(h: str, shards: int) -> str:
    """DuckDB rendering of :func:`_shard16`."""
    return f"CAST({hex_int_sql(h, 1, 4)} % {_check_shards(shards)} AS INT)"


def _cut(frac: float) -> int:
    """Upper bound of the first ``frac`` of the 65536 16-bit draws."""
    return int(round(frac * 65536))


def _split_cuts(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """(split name, exclusive 16-bit upper bound) per split, in order."""
    cuts, acc = [], 0.0
    for name, frac in fractions.items():
        acc += frac
        cuts.append((name, min(_cut(acc), 65535)))
    return cuts


def hash_split(
    df: DataFrame,
    key_col: str,
    *,
    fractions: dict[str, float] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split keyed on ``md5(key)``.

    ``fractions`` maps split name → fraction (must sum to 1); default
    80/10/10 train/val/test.  Assignment is a pure row-local expression —
    no shuffle, no RNG, reproducible across engines and runs.
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    cuts = _split_cuts(fractions)
    h = hex_int(F.md5(F.col(key_col).cast("string")), 1, 4)
    last = cuts[-1][0]
    if len(cuts) == 1:
        return df.withColumn(split_col, F.lit(last))
    expr = F
    for name, upper in cuts[:-1]:
        expr = expr.when(h < upper, name)
    return df.withColumn(split_col, expr.otherwise(last))


def hash_split_sql(key: str, fractions: dict[str, float] | None = None) -> str:
    """DuckDB CASE expression matching :func:`hash_split` exactly (the
    last split's literal alone for a one-split spec)."""
    cuts = _split_cuts(fractions or {"train": 0.8, "val": 0.1, "test": 0.1})
    last = sql_str_lit(cuts[-1][0])
    if len(cuts) == 1:
        return last
    h = hex_int_sql(f"md5(CAST({key} AS VARCHAR))", 1, 4)
    parts = [f"WHEN {h} < {upper} THEN {sql_str_lit(name)}" for name, upper in cuts[:-1]]
    return "CASE " + " ".join(parts) + f" ELSE {last} END"


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict,
    *,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (seeded ``sampleBy``): e.g. rebalance
    a skewed language mix by downsampling the dominant strata.

    Seeded-RNG by nature — the kept SET depends on partitioning and Spark
    version.  Prefer :func:`stratified_sample_hash` when reproducibility
    across runs/engines matters (it almost always does for training-data
    splits: re-running the pipeline must not silently swap sample rows).
    """
    return df.sampleBy(stratum_col, fractions=fractions, seed=seed)


def _stratum_threshold(frac: float) -> int | None:
    """16-bit upper bound for a fraction, or None for keep-all (frac≥1)."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"fractions must be in [0, 1], got {frac}")
    thr = _cut(frac)
    return None if thr >= 65536 else thr


def stratified_sample_hash(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the integer of
    the leading 4 hex digits of ``md5(stratum:key)`` falls below the
    stratum's fraction of 65536 (granularity 1/65536 ≈ 0.0015%).

    Same row → same decision on every run, every engine, any
    partitioning: the predicate is pure row-local expression work (no
    RNG, no shuffle, whole-stage codegen'd) and
    :func:`stratified_sample_hash_sql` renders the identical CASE for
    DuckDB, so the kept SET — not just its size — is hash-checkable.
    Like ``sampleBy``, strata missing from ``fractions`` are dropped
    (fraction 0).  Row counts are binomial around frac·n like any
    Bernoulli sampler; exact-count-per-stratum needs a window rank
    (one shuffle) and is a different operator.

    NULL handling: a NULL stratum or key hashes as the EMPTY STRING on
    both engines (explicit ``coalesce`` on both sides — Spark's
    ``concat_ws`` silently skips NULL args while DuckDB's ``concat``
    keeps the separator, so without the coalesce the two engines would
    hash different bytes).  NULL-stratum rows are still dropped by the
    stratum-equality CASE, like ``sampleBy``; all NULL-KEY rows within a
    stratum share one keep/drop decision — pass a unique non-null key
    for per-row sampling.
    """
    h = hex_int(
        salted_md5(
            F.coalesce(F.col(stratum_col).cast("string"), F.lit("")), F.col(key_col)
        ),
        1,
        4,
    )
    keep = None
    for name, frac in fractions.items():
        thr = _stratum_threshold(frac)
        cond = F.lit(True) if thr is None else (h < F.lit(thr))
        cased = F.when(F.col(stratum_col) == name, cond)
        keep = cased if keep is None else keep.when(F.col(stratum_col) == name, cond)
    if keep is None:
        return df.where(F.lit(False))
    return df.where(keep.otherwise(F.lit(False)))


def select_by_token_budget(
    df: DataFrame,
    quality_col: str,
    token_col: str,
    budget: int,
    *,
    bins: int = 1000,
) -> DataFrame:
    """Keep the highest-``quality`` documents until a TOKEN budget fills —
    the data-mixing stage that turns a scored corpus into "the best B
    tokens" for a training run.

    Scale shape: a global ``orderBy(quality)`` + running sum would funnel
    the whole corpus through one partition, so instead quality is
    bucketed into ``bins`` fixed-width bins (row-local expression), one
    hash aggregate sums tokens per bin (≤ ``bins`` rows — driver-small),
    the cumulative-from-the-top threshold is resolved on that tiny
    frame, and the keep-set is a broadcast semi-join back. One shuffle
    of ``bins`` rows total, whatever the corpus size.

    Semantics: whole bins are admitted while their cumulative token sum
    (from the highest-quality bin down) stays ≤ ``budget`` — the result
    under-fills by at most one bin's tokens (bin width = quality range /
    ``bins``; raise ``bins`` to tighten).  Deterministic: same corpus →
    same kept SET, no RNG, no partition-order dependence.  NULL quality
    or NULL/negative token counts are dropped (they can neither be
    ranked nor budgeted).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    q = F.col(quality_col).cast("double")
    t = F.col(token_col).cast("bigint")
    scored = df.where(q.isNotNull() & t.isNotNull() & (t >= 0))
    # fixed [0,1]-anchored bins keep the bucket expression row-local and
    # reproducible; qualities outside [0,1] clamp into the edge bins
    qb = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor(q * bins).cast("int")),
    )
    per_bin = scored.select(qb.alias("__qb"), t.alias("__tok")).groupBy("__qb").agg(
        F.sum("__tok").alias("__tok")
    )
    w = Window.orderBy(F.col("__qb").desc())  # <= `bins` rows: tiny frame
    keep_bins = (
        per_bin.withColumn("__cum", F.sum("__tok").over(w))
        .where(F.col("__cum") <= F.lit(int(budget)))
        .select("__qb")
    )
    return scored.join(
        F.broadcast(keep_bins), qb == F.col("__qb"), "left_semi"
    ).select(*df.columns)


def select_by_token_budget_stratified(
    df: DataFrame,
    stratum_col: str,
    quality_col: str,
    token_col: str,
    budgets: dict[str, int],
    *,
    bins: int = 1000,
) -> DataFrame:
    """Per-stratum token budgets — the data-mixing recipe shape: "this
    many tokens of each language/domain/source, best quality first".

    Same execution skeleton as :func:`select_by_token_budget`, run for
    every stratum inside ONE plan: the per-(stratum, bin) aggregate is
    still ≤ ``len(budgets)·bins`` rows (driver-small), the cumulative
    threshold window partitions by stratum, and one broadcast semi-join
    on (stratum, bin) admits the keep-set.  Strata missing from
    ``budgets`` are dropped (like ``sampleBy``); each stratum
    under-fills by at most one bin's tokens.
    """
    for name, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {name!r} must be >= 0, got {b}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not budgets:
        return df.where(F.lit(False))
    q = F.col(quality_col).cast("double")
    t = F.col(token_col).cast("bigint")
    s = F.col(stratum_col)
    scored = df.where(
        q.isNotNull() & t.isNotNull() & (t >= 0) & s.isin(list(budgets))
    )
    qb = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor(q * bins).cast("int")),
    )
    per_bin = (
        scored.select(s.alias("__s"), qb.alias("__qb"), t.alias("__tok"))
        .groupBy("__s", "__qb")
        .agg(F.sum("__tok").alias("__tok"))
    )
    budget_of = F.create_map(
        *[x for name, b in budgets.items() for x in (F.lit(name), F.lit(int(b)))]
    )[F.col("__s")].cast("bigint")
    w = Window.partitionBy("__s").orderBy(F.col("__qb").desc())
    keep_bins = (
        per_bin.withColumn("__cum", F.sum("__tok").over(w))
        .where(F.col("__cum") <= budget_of)
        .select("__s", "__qb")
    )
    return scored.join(
        F.broadcast(keep_bins),
        (s == F.col("__s")) & (qb == F.col("__qb")),
        "left_semi",
    ).select(*df.columns)


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    *,
    shards: int,
    salt: str = "shuffle",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic GLOBAL shuffle + sharding — the last stage before a
    training dump: break source/crawl locality by ordering the corpus
    pseudo-randomly, split it into ``shards`` balanced shards, and give
    every row a stable position within its shard.

    Order key is ``md5(salt:key)`` — pseudo-random but
    reproducible (same corpus → same order, every run, every engine; a
    different ``salt`` yields an independent reshuffle, which is how you
    get epoch-distinct orders without RNG).  The shard is the leading 16
    bits of the same hash mod ``shards`` (hash-balanced), and ``pos`` is
    the row_number over (shard, order-key) — so readers stream shard
    files in ``pos`` order and see a globally de-correlated sequence.

    ``key_col`` must be UNIQUE per row: it is both the hash input and
    the sort tiebreaker, so rows sharing a key get the same hash AND an
    unordered tie — their relative ``pos`` assignment would be
    nondeterministic.  Dedup first (or synthesize a unique key).

    Scale shape: ONE shuffle (the window's hash partition by shard) and
    a per-shard sort — never a global order-by, so no single-partition
    funnel; shard sizes are hash-balanced whatever the corpus size.
    Write with ``df.write.partitionBy(shard_col)`` (or the bucketed sink
    in ``sources/sinks.py``) for one directory per shard.
    """
    h = salted_md5(F.lit(salt), F.col(key_col))
    tagged = df.withColumn("__h", h).withColumn(shard_col, _shard16(h, shards))
    w = Window.partitionBy(shard_col).orderBy(F.col("__h"), F.col(key_col))
    return tagged.withColumn(pos_col, F.row_number().over(w)).drop("__h")


def shuffle_shards_sql(
    table_sql: str,
    key: str,
    *,
    shards: int,
    salt: str = "shuffle",
    out_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`shuffle_shards` — identical hash, shard,
    and row_number arithmetic over a subquery."""
    h = salted_md5_sql(sql_str_lit(salt), key)
    cols = ", ".join(out_cols) if out_cols else "*"
    return f"""
SELECT {cols}, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY {h}, {key}) AS INT) AS pos
FROM (SELECT *, {_shard16_sql(h, shards)} AS shard FROM ({table_sql}))
"""


def select_by_token_budget_stratified_sql(
    scored_sql: str,
    stratum: str,
    quality: str,
    tokens: str,
    budgets: dict[str, int],
    out_cols: list[str],
    *,
    bins: int = 1000,
) -> str:
    """DuckDB twin of :func:`select_by_token_budget_stratified` over a
    scored subquery — renders the identical fixed-width quality bin,
    per-(stratum, bin) token aggregate, descending cumulative window,
    budget map, and keep-join, so the kept SET is hash-checkable.
    ``quality`` must be an already-rounded column (both engines bin the
    same 6-dp double, so floor(q·bins) cannot straddle differently)."""
    in_list = ", ".join(sql_str_lit(s) for s in budgets) or "NULL"
    budget_case = (
        "CASE "
        + " ".join(
            f"WHEN __s = {sql_str_lit(s)} THEN CAST({int(b)} AS BIGINT)"
            for s, b in budgets.items()
        )
        + " END"
    )
    qb = f"LEAST({bins - 1}, GREATEST(0, CAST(floor({quality} * {bins}) AS INT)))"
    cols = ", ".join(f"f.{c}" for c in out_cols)
    return f"""
WITH f AS (
  SELECT *, {qb} AS __qb FROM ({scored_sql})
  WHERE {quality} IS NOT NULL AND {tokens} IS NOT NULL AND {tokens} >= 0
    AND {stratum} IN ({in_list})
),
per_bin AS (
  SELECT {stratum} AS __s, __qb, sum({tokens}) AS __tok FROM f GROUP BY 1, 2
),
keep AS (
  SELECT __s, __qb FROM (
    SELECT __s, __qb, sum(__tok) OVER (PARTITION BY __s ORDER BY __qb DESC) AS __cum
    FROM per_bin)
  WHERE __cum <= {budget_case}
)
SELECT {cols} FROM f JOIN keep ON f.{stratum} = keep.__s AND f.__qb = keep.__qb
"""


def sql_str_lit(value: str) -> str:
    """Render a python string as a single-quoted SQL literal, doubling
    embedded quotes — every oracle renderer that interpolates a VALUE
    (stratum names, regex patterns) must go through this so a quote in
    the value cannot break (or inject into) the generated SQL."""
    return "'" + value.replace("'", "''") + "'"


def stratified_sample_hash_sql(
    stratum: str, key: str, fractions: dict[str, float]
) -> str:
    """DuckDB boolean expression matching :func:`stratified_sample_hash`
    exactly (use in a WHERE clause) — including the NULL→'' coalesce and
    quote-escaped stratum literals."""
    h = hex_int_sql(
        salted_md5_sql(f"COALESCE(CAST({stratum} AS VARCHAR), '')", key), 1, 4
    )
    whens = []
    for name, frac in fractions.items():
        thr = _stratum_threshold(frac)
        cond = "TRUE" if thr is None else f"{h} < {thr}"
        whens.append(f"WHEN {stratum} = {sql_str_lit(name)} THEN {cond}")
    if not whens:
        return "FALSE"
    return "CASE " + " ".join(whens) + " ELSE FALSE END"


def temperature_resample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    *,
    coeff: float,
    tau: float = 0.5,
    salt: str = "temp0",
) -> DataFrame:
    """Temperature-based mixture resampling: keep each row of group ``g``
    with probability ``min(1, coeff · n_g^(tau−1))``, so the EXPECTED
    kept count per group is ``coeff · n_g^tau`` — the classic
    temperature flattening of a skewed source/language mix (multilingual
    pretraining recipes à la mBERT/XLM-R: dominant groups are
    downsampled toward ``n^tau``, small groups kept whole; ``tau=1``
    keeps the natural mix, ``tau→0`` approaches uniform).

    Selection is the same md5-bucket scheme as the other deterministic
    samplers (65536 buckets over ``md5(salt:key)``): the kept SET is
    identical on every run, engine, and partitioning — a new ``salt``
    is an independent re-draw.  The per-group threshold is
    ``floor(rate·65536)`` computed from the group counts, and for the
    default ``tau=0.5`` the whole float chain (``CAST → sqrt → ÷ →
    least → ×2^16 → floor``) is IEEE-correctly-rounded step by step, so
    Spark and DuckDB (:func:`temperature_resample_sql`) produce
    bit-identical thresholds — no transcendental, hash-oracle-safe.
    Other ``tau`` values go through ``pow`` (exactness not guaranteed
    cross-engine; library-checked only, keep them out of hash oracles).

    Scale shape: ONE tiny group-count aggregate (map-side partials, ≤
    #groups rows), thresholds broadcast back, then a pure row-local
    keep predicate — no corpus shuffle, no RNG, whole-stage codegen.
    NULL groups are dropped (no mixture weight is defined for them);
    NULL keys hash as '' like the stratified sampler.
    """
    if not coeff > 0:
        raise ValueError(f"coeff must be > 0, got {coeff}")
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    n = F.col("__n").cast("double")
    if tau == 0.5:
        rate = F.lit(float(coeff)) / F.sqrt(n)
    else:
        rate = F.lit(float(coeff)) * F.pow(n, F.lit(tau - 1.0))
    thr = F.floor(F.least(F.lit(1.0), rate) * F.lit(65536.0)).cast("bigint")
    rates = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(group_col, thr.alias("__thr"))
    )
    # the 16-bit draw is below a 65536 threshold anyway; the explicit
    # keep-all branch stops the join condition from implying
    # isnotnull(__thr), which would add a Filter to the broadcast side
    h = hex_int(salted_md5(F.lit(salt), F.col(key_col)), 1, 4)
    keep = (F.col("__thr") >= 65536) | (h < F.col("__thr"))
    return df.join(F.broadcast(rates), group_col).where(keep).drop("__thr")


def temperature_resample_sql(
    src: str,
    group_col: str,
    key_col: str,
    *,
    coeff: float,
    salt: str = "temp0",
) -> str:
    """DuckDB twin of :func:`temperature_resample` at ``tau=0.5`` (the
    only tau whose float chain is exact cross-engine — sqrt and divide
    are IEEE correctly-rounded, ×65536 is a power-of-two scale, floor
    is exact; ``pow`` is NOT on the audited-transcendental allowlist).
    ``src`` must yield the sampled relation; returns a full SELECT of
    the kept rows.
    """
    if not coeff > 0:
        raise ValueError(f"coeff must be > 0, got {coeff}")
    h = hex_int_sql(salted_md5_sql(sql_str_lit(salt), key_col), 1, 4)
    return f"""
SELECT d.*
FROM ({src}) d
JOIN (
  SELECT {group_col},
         CAST(floor(least(1.0, {float(coeff)!r} / sqrt(CAST(count(*) AS DOUBLE))) * 65536.0) AS BIGINT) AS __thr
  FROM ({src}) GROUP BY {group_col}
) r USING ({group_col})
WHERE r.__thr >= 65536 OR {h} < r.__thr
"""


def stratified_take_exact(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    targets: dict[str, int],
    *,
    salt: str = "take0",
) -> DataFrame:
    """EXACT-count deterministic stratified selection: keep precisely
    ``min(target_s, n_s)`` rows per stratum — the companion to
    :func:`stratified_sample_hash`, whose Bernoulli keep-rates land
    only *around* ``frac·n``.  The real-world shape is "take exactly
    10k docs per language, reproducibly": rows are ranked within each
    stratum by ``md5(salt:key)`` (a content-hash order — no RNG, no
    data-order dependence) and the first ``target_s`` win.  Same
    corpus, same salt → the same SET on every run, engine, and
    partitioning; a new salt is an independent re-draw.  Strata missing
    from ``targets`` are dropped, like the Bernoulli sampler.

    Ties: md5 collisions across DIFFERENT keys are cryptographically
    negligible, but the rank breaks ties on the key itself anyway, so
    the selection is total-order-deterministic even under equal hashes
    (and under duplicate keys).

    Scale shape: ONE hash-partition window per stratum (rank within
    ``stratum`` ordered by the hash — the same single-exchange shape as
    ``shuffle_shards``, never a global sort) followed by a row-local
    rank filter.  A stratum's rows must fit the usual window-per-key
    memory envelope; targets are literals, so the filter folds into the
    window projection.
    """
    for name, target in targets.items():
        if target < 0:
            raise ValueError(f"targets must be >= 0, got {name}={target}")
    h = salted_md5(F.lit(salt), F.col(key_col))
    # unlisted strata drop anyway — filter them BEFORE the window so the
    # rank shuffle carries only rows that can survive (row_number within
    # a stratum is unaffected: window partitions are independent)
    df = df.where(F.col(stratum_col).isin([n for n, t in targets.items() if t > 0]))
    w = Window.partitionBy(stratum_col).orderBy(h, F.col(key_col).cast("string"))
    ranked = df.withColumn("__rk", F.row_number().over(w))
    cap = None
    for name, target in targets.items():
        cond = F.col("__rk") <= F.lit(int(target))
        cased = F.when(F.col(stratum_col) == name, cond)
        cap = cased if cap is None else cap.when(F.col(stratum_col) == name, cond)
    if cap is None:
        return df.where(F.lit(False))
    return ranked.where(cap.otherwise(F.lit(False))).drop("__rk")


def cap_per_key(
    df: DataFrame,
    key_col: str | Column,
    id_col: str,
    n: int,
    *,
    salt: str = "cap0",
) -> DataFrame:
    """X41: per-host/URL document cap — keep at most ``n`` rows per
    ``key_col`` value, the C4/FineWeb dedup-policy stage that runs on
    the URL/host BEFORE content dedup (C4 keeps one page per URL;
    FineWeb-style curation caps documents per host so a single mirror
    farm can't dominate the mixture).  The kept ``n`` are chosen by
    ``md5(salt:id)`` content-hash rank with an id tie-break — the same
    deterministic no-RNG order as :func:`stratified_take_exact`, so the
    kept SET is a pure function of (corpus, salt): identical on every
    run, engine, and partitioning; a new salt is an independent
    re-draw.  NULL keys group as ``''`` (one capped bucket), matching
    the house NULL-hashes-as-empty convention.

    Scale shape: ONE hash-partition window per key (rank within key by
    the hash — a single exchange, never a global sort) and a row-local
    rank filter.  A hot host's rows rank within one window partition —
    the window-per-key memory envelope bounds it, and the filter drops
    everything past ``n`` before any downstream stage.  Unlike
    ``stratified_take_exact`` the cap applies to EVERY key (no target
    dict), which is what a host policy means.

    The full row (text included) rides the rank exchange by design: a
    projected-window + id-semi-join variant measured 56–78 s against
    5–12 s at 100× sf0.1, because the semi-join re-scans the corpus and
    shuffles it a second time by id (probe row in BASELINE.md).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    h = salted_md5(F.lit(salt), F.col(id_col))
    # a Column key (e.g. dedup.url_host over a raw url column) rides the
    # same window without a pre-projection
    key = key_col if isinstance(key_col, Column) else F.col(key_col)
    k = F.coalesce(key.cast("string"), F.lit(""))
    w = Window.partitionBy(k).orderBy(h, F.col(id_col).cast("string"))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= F.lit(int(n)))
        .drop("__rk")
    )


def cap_per_key_sql(
    src: str,
    key_col: str,
    id_col: str,
    n: int,
    *,
    salt: str = "cap0",
) -> str:
    """DuckDB twin of :func:`cap_per_key` — identical hash order,
    identical cap; ``src`` must yield the sampled relation."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    h = salted_md5_sql(sql_str_lit(salt), id_col)
    return f"""
SELECT * EXCLUDE (__rk) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY COALESCE(CAST({key_col} AS VARCHAR), '')
    ORDER BY {h}, CAST({id_col} AS VARCHAR)
  ) AS __rk
  FROM ({src})
)
WHERE __rk <= {int(n)}
"""


def stratified_take_exact_sql(
    src: str,
    stratum_col: str,
    key_col: str,
    targets: dict[str, int],
    *,
    salt: str = "take0",
) -> str:
    """DuckDB twin of :func:`stratified_take_exact` — identical hash
    order, identical per-stratum caps; ``src`` must yield the sampled
    relation.  Returns a SELECT of the kept rows (without the rank)."""
    h = salted_md5_sql(sql_str_lit(salt), key_col)
    whens = " ".join(
        f"WHEN {stratum_col} = {sql_str_lit(name)} THEN __rk <= {int(target)}"
        for name, target in targets.items()
    )
    if not whens:
        return f"SELECT * FROM ({src}) WHERE FALSE"
    live = ", ".join(
        sql_str_lit(name) for name, target in targets.items() if target > 0
    ) or "NULL"
    return f"""
SELECT * EXCLUDE (__rk) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {stratum_col}
    ORDER BY {h}, CAST({key_col} AS VARCHAR)
  ) AS __rk
  FROM ({src})
  WHERE {stratum_col} IN ({live})
)
WHERE CASE {whens} ELSE FALSE END
"""


def materialize_mixture(
    df: DataFrame,
    source_col: str,
    token_col: str,
    id_col: str,
    targets: dict[str, int],
    *,
    salt: str = "mix0",
    epoch_col: str = "epoch",
) -> DataFrame:
    """X44: mixture materialization with EPOCHS — turn per-source token
    TARGETS into the concrete multi-epoch document stream a training
    run reads.  ``select_by_token_budget*`` can only down-sample; a
    real recipe also UP-samples its small high-quality sources (the
    classic "Wikipedia ×3" shape: when ``target > available``, every
    doc repeats).  Per source with available token total ``T``:

    - ``full = target // T`` complete epochs — every doc emitted
      ``full`` times;
    - remainder ``rem = target − full·T`` filled by ONE partial epoch:
      the ``md5(salt:id)``-rank prefix of docs whose inclusive running
      token sum stays ≤ ``rem`` (the :func:`select_by_token_budget`
      under-fill convention; empty when ``rem == 0``).

    Output: input rows replicated with a 1-based ``epoch`` column
    (partial epoch = highest number); sources missing from ``targets``
    or with ``target == 0`` — and zero-``T`` sources, which no token
    target can be filled from — drop entirely.  Deterministic: the
    md5 order is a pure function of (corpus, salt), no RNG, no
    partition-order dependence; a new salt re-draws the partial-epoch
    prefix independently.

    Scale shape: per-source totals are ONE map-side-combined aggregate
    (K rows) broadcast back; the running sum is ONE hash-partition
    window per source ordered by the hash (the
    :func:`stratified_take_exact` / :func:`cap_per_key` exchange shape
    — never a global sort; full rows ride the exchange per the
    cap_per_key 100× A/B); epoch replication is a row-local
    ``explode(sequence(...))`` whose output is exactly the training
    stream being materialized.  NULL/negative token counts are dropped
    (they cannot be budgeted).
    """
    for name, target in targets.items():
        if target < 0:
            raise ValueError(f"targets must be >= 0, got {name}={target}")
    live = [n for n, t in targets.items() if t > 0]
    if not live:
        return df.withColumn(epoch_col, F.lit(1).cast("int")).where(F.lit(False))
    s = F.coalesce(F.col(source_col).cast("string"), F.lit(""))
    t = F.col(token_col).cast("bigint")
    base = df.where(s.isin(live) & t.isNotNull() & (t >= 0))
    target_of = F.create_map(
        *[x for n in live for x in (F.lit(n), F.lit(int(targets[n])))]
    )[s].cast("bigint")
    tot = base.groupBy(s.alias("__src")).agg(F.sum(t).alias("__tot"))
    h = salted_md5(F.lit(salt), F.col(id_col))
    w = (
        Window.partitionBy("__src")
        .orderBy(h, F.col(id_col).cast("string"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        base.join(F.broadcast(tot), s == F.col("__src"))
        .withColumn("__cum", F.sum(t).over(w))
        .withColumn("__tgt", target_of)
        .withColumn(
            "__full",
            F.when(F.col("__tot") > 0, F.expr("__tgt div __tot")).otherwise(
                F.lit(0)
            ).cast("bigint"),
        )
        # tot == 0 forces rem = 0 too — otherwise every zero-token doc
        # (cum stuck at 0) would ride a partial epoch no token target asked for
        .withColumn(
            "__rem",
            F.when(
                F.col("__tot") > 0,
                F.col("__tgt") - F.col("__full") * F.col("__tot"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__copies",
            F.col("__full")
            + F.when(
                (F.col("__rem") > 0) & (F.col("__cum") <= F.col("__rem")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    return (
        staged.where(F.col("__copies") > 0)
        .withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(1), F.col("__copies").cast("int"))),
        )
        .select(*df.columns, epoch_col)
    )


def materialize_mixture_sql(
    src: str,
    source_col: str,
    token_col: str,
    id_col: str,
    targets: dict[str, int],
    *,
    salt: str = "mix0",
    epoch_col: str = "epoch",
) -> str:
    """DuckDB twin of :func:`materialize_mixture` — identical hash
    order, identical ``full``/``rem`` integer arithmetic, identical
    partial-epoch prefix rule; replication via
    ``unnest(generate_series(1, copies))``.  ``src`` must yield the
    mixed relation."""
    for name, target in targets.items():
        if target < 0:
            raise ValueError(f"targets must be >= 0, got {name}={target}")
    live = {n: t for n, t in targets.items() if t > 0}
    if not live:
        return f"SELECT *, 1 AS {epoch_col} FROM ({src}) WHERE FALSE"
    s = f"COALESCE(CAST({source_col} AS VARCHAR), '')"
    whens = " ".join(
        f"WHEN {s} = {sql_str_lit(n)} THEN {int(t)}" for n, t in live.items()
    )
    in_list = ", ".join(sql_str_lit(n) for n in live)
    h = salted_md5_sql(sql_str_lit(salt), id_col)
    return f"""
SELECT * EXCLUDE (__tot, __cum, __tgt, __full, __rem, __copies)
     , CAST(unnest(generate_series(1, CAST(__copies AS INT))) AS INT) AS {epoch_col}
FROM (
  SELECT *, __full + CASE WHEN __rem > 0 AND __cum <= __rem THEN 1 ELSE 0 END
            AS __copies
  FROM (
    SELECT *, CASE WHEN __tot > 0 THEN __tgt // __tot ELSE 0 END AS __full,
           CASE WHEN __tot > 0
                THEN __tgt - (__tgt // __tot) * __tot ELSE 0 END AS __rem
    FROM (
      SELECT *,
             CAST(sum(CAST({token_col} AS BIGINT)) OVER (
               PARTITION BY {s}
               ORDER BY {h}, CAST({id_col} AS VARCHAR)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS __cum,
             CAST(sum(CAST({token_col} AS BIGINT)) OVER (
               PARTITION BY {s}
             ) AS BIGINT) AS __tot,
             CAST(CASE {whens} END AS BIGINT) AS __tgt
      FROM ({src}) z
      WHERE {s} IN ({in_list})
        AND {token_col} IS NOT NULL AND CAST({token_col} AS BIGINT) >= 0
    )
  )
)
WHERE __copies > 0
"""


def top_frac_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    frac: tuple[int, int],
    id_col: str,
    *,
    salt: str = "top0",
) -> DataFrame:
    """X45: per-group top-fraction selection — keep the best
    ``num/den`` of EVERY group by score, the way DCLM/FineWeb-class
    pipelines threshold a quality classifier PER SOURCE (absolute
    thresholds don't transfer across sources whose score scales
    differ; "top 10% of each" does).  ``frac`` is an exact RATIONAL
    ``(num, den)`` so the keep count is pure integer arithmetic:
    ``keep_n = ceil(num · n_group / den)`` — a non-empty group with a
    positive fraction always keeps at least one row (floor semantics
    would silently erase small groups).

    Order: ``score DESC``, then ``md5(salt:id)``, then id — ties
    resolve by content hash, not partition order, so the kept SET is a
    pure function of (corpus, salt) on every engine and partitioning.
    NULL scores are dropped (they cannot be ranked); NULL groups
    select as one ``''`` group per the house convention.

    Scale shape: ONE hash-partition window per group computing both
    the rank and the group size (same partition spec → one exchange,
    never a global sort), then a row-local keep filter — the
    :func:`cap_per_key` / :func:`stratified_take_exact` exchange
    shape, with full rows riding the exchange per the cap_per_key
    100× A/B.
    """
    num, den = frac
    if den < 1 or num < 0:
        raise ValueError(f"frac must be (num >= 0, den >= 1), got {frac}")
    s = F.col(score_col)
    g = F.coalesce(F.col(group_col).cast("string"), F.lit(""))
    base = df.where(s.isNotNull())
    if num == 0:
        return base.where(F.lit(False))
    h = salted_md5(F.lit(salt), F.col(id_col))
    w = Window.partitionBy(g).orderBy(s.desc(), h, F.col(id_col).cast("string"))
    # the group size rides the SAME (partition, order) spec with an
    # unbounded frame, and both columns land in ONE select — chained
    # withColumn puts a Project between the windows, which defeats
    # CollapseWindow and buys a SECOND exchange (plan-pinned in
    # tests/test_plans.py: exactly one shuffle)
    wn = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = base.select(
        "*",
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    # `div` keeps ceil(num·n/den) in exact BIGINT arithmetic — `/` is
    # double division in the column API, and the DuckDB twin uses `//`
    keep = F.expr(
        f"__rk <= (({int(num)} * __n + {int(den) - 1}) div {int(den)})"
    )
    return ranked.where(keep).drop("__rk", "__n")


def top_frac_per_group_sql(
    src: str,
    group_col: str,
    score_col: str,
    frac: tuple[int, int],
    id_col: str,
    *,
    salt: str = "top0",
) -> str:
    """DuckDB twin of :func:`top_frac_per_group` — identical order,
    identical ``ceil(num·n/den)`` integer keep count."""
    num, den = frac
    if den < 1 or num < 0:
        raise ValueError(f"frac must be (num >= 0, den >= 1), got {frac}")
    if num == 0:
        return f"SELECT * FROM ({src}) WHERE FALSE"
    g = f"COALESCE(CAST({group_col} AS VARCHAR), '')"
    h = salted_md5_sql(sql_str_lit(salt), id_col)
    return f"""
SELECT * EXCLUDE (__rk, __n) FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY {g}
           ORDER BY {score_col} DESC, {h}, CAST({id_col} AS VARCHAR)
         ) AS __rk,
         count(*) OVER (PARTITION BY {g}) AS __n
  FROM ({src}) z
  WHERE {score_col} IS NOT NULL
)
WHERE __rk <= ({int(num)} * __n + {int(den) - 1}) // {int(den)}
"""


def _interleave_strides(weights: dict[str, int]) -> tuple[dict[str, int], int]:
    """Validate an interleave weight spec and return ``(strides, lcm)``:
    ``stride[g] = lcm(weights) // weights[g]`` — the exact integer
    virtual-time step between consecutive emissions of group ``g``."""
    from math import gcd

    if not weights:
        raise ValueError("weights must name at least one group")
    for g, w in weights.items():
        if not isinstance(w, int) or isinstance(w, bool) or w < 1:
            raise ValueError(f"weights must be positive ints, got {g!r}: {w!r}")
    lcm = 1
    for w in weights.values():
        lcm = lcm * w // gcd(lcm, w)
        if lcm > 1 << 40:
            # virtual times are rank * (lcm // w) BIGINTs; keep the
            # product far from 2^63 even at trillion-row ranks
            raise ValueError(
                "lcm(weights) exceeds 2^40 — reduce the weight spec to "
                "smaller coprime-free integers (ratios, not raw counts)"
            )
    return {g: lcm // weights[g] for g in weights}, lcm


def proportional_interleave(
    df: DataFrame,
    group_col: str,
    id_col: str,
    *,
    weights: dict[str, int],
    salt: str = "interleave",
    shards: int = 64,
    rank_col: str = "rank",
    pos_col: str = "pos",
) -> DataFrame:
    """X53: deterministic PROPORTIONAL INTERLEAVE — the global training
    ORDER a mixture spec implies, not just its row selection.  Stride
    scheduling: group ``g`` with integer weight ``w_g`` emits its
    ``r``-th document at exact virtual time ``v = r * stride_g`` where
    ``stride_g = lcm(weights) / w_g``; the global order is ``(v,
    group)``.  Every prefix of the resulting stream holds each group's
    share within ONE document of ``w_g / Σw`` until that group exhausts
    (the low-discrepancy guarantee RNG interleaving only gives in
    expectation) — and the whole order is reproducible on any engine,
    any partitioning, any run.

    Output = input rows of the groups named in ``weights`` (others are
    DROPPED — the mixture spec defines the corpus; NULL groups read as
    ``''`` per the house convention) plus ``rank_col`` (1-based
    deterministic rank within the group: ``md5(salt:id)`` order) and
    ``pos_col`` (0-based GLOBAL position in the interleaved stream).

    Scale shape — NO global sort anywhere.  The global position is a
    CLOSED FORM per row: rows before ``(g, r)`` are its own ``r - 1``
    predecessors plus, for every other group ``t``, ``min(n_t,
    v // stride_t)`` (groups ordered before ``g`` win ties) or
    ``min(n_t, (v-1) // stride_t)`` (groups after) — pure BIGINT
    arithmetic over the K-row group-total table, rendered as literals
    into one whole-stage-codegen projection.  The within-group rank is
    :func:`_sharded_rank` over the K·S-row (group, shard) count table,
    equal by construction to ``row_number() OVER (PARTITION BY group
    ORDER BY shard, md5, id)``, which is what the DuckDB twin renders.

    Building the closed form collects the K group totals from that
    count table, so construction runs its jobs.  ``id_col`` must be
    unique per row (hash input + tie break, as in
    :func:`shuffle_shards`).
    """
    strides, _ = _interleave_strides(weights)
    clash = {rank_col, pos_col} & set(df.columns)
    if clash:
        raise ValueError(
            f"output column(s) {sorted(clash)} already exist in the input — "
            "withColumn would silently replace them; rename via rank_col=/pos_col="
        )
    groups = sorted(weights)
    g = F.coalesce(F.col(group_col).cast("string"), F.lit(""))
    h = salted_md5(F.lit(salt), F.col(id_col))
    tagged = (
        df.where(g.isin(groups))
        .withColumn("__g", g)
        .withColumn("__h", h)
        .withColumn("__sh", _shard16(F.col("__h"), shards))
    )
    counts, ranked = _sharded_rank(tagged, ["__g"], id_col)
    totals = {g_: 0 for g_ in groups}
    for row in counts.groupBy("__g").agg(F.sum("__c").alias("n")).collect():  # bounded-collect: K-row group totals (the closed form's literals)
        totals[row["__g"]] = int(row["n"])
    ranked = ranked.withColumnRenamed("__rk", rank_col)
    # v = rank * stride_g and pos as literal K-term sums over the
    # integer group-index column — pure BIGINT arithmetic (SQL DIV, not
    # double floor(), which would corrupt counts past 2^53), all
    # row-local, one whole-stage-codegen projection
    gi = _group_index(F.col("__g"), groups)
    v = F.col(rank_col) * _case_over_groups(gi, [strides[t] for t in groups])
    staged = ranked.withColumn("__gi", gi).withColumn("__v", v)
    rk = "`" + rank_col.replace("`", "``") + "`"
    terms = [f"{rk} - 1"]
    for i, t in enumerate(groups):
        terms.append(
            f"(CASE WHEN __gi = {i} THEN 0 ELSE least("
            f"CAST({totals[t]} AS BIGINT), "
            f"(__v - (CASE WHEN {i} < __gi THEN 0 ELSE 1 END)) DIV {strides[t]}"
            f") END)"
        )
    pos = F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return (
        staged.withColumn(pos_col, pos)
        .drop("__g", "__h", "__sh", "__gi", "__v")
    )


def _sharded_rank(
    tagged: DataFrame, by: list[str], id: str
) -> tuple[DataFrame, DataFrame]:
    """Dense 1-based rank ``__rk`` of ``tagged`` within ``by``, ordered by
    (``__sh``, ``__h``, ``id``), without a per-group single-partition
    window.  ``tagged`` carries the md5 hex ``__h`` and its 16-bit shard
    ``__sh``.  Rows rank within (``by``, shard) and add the row count of
    the group's earlier shards, read from a (``by``, shard) count table.

    Returns ``(counts, ranked)``.  ``counts`` (``by``, ``__sh``, ``__c``)
    is lazily ``localCheckpoint``-ed: the caller's first action on it
    materializes the table, and the offsets window and the ranked pass
    then read it instead of re-aggregating the corpus."""
    counts = (
        tagged.groupBy(*by, "__sh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    woff = (
        Window.partitionBy(*by)
        .orderBy("__sh")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *by, "__sh", F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off")
    )
    wrk = Window.partitionBy(*by, "__sh").orderBy("__h", F.col(id))
    ranked = (
        tagged.join(F.broadcast(offsets), [*by, "__sh"])
        .withColumn("__rk", (F.col("__off") + F.row_number().over(wrk)).cast("bigint"))
        .drop("__off")
    )
    return counts, ranked


def _case_over_groups(gi: Column, values: list[int]) -> Column:
    expr = F.lit(None).cast("bigint")
    for i in reversed(range(len(values))):
        expr = F.when(gi == i, F.lit(values[i]).cast("bigint")).otherwise(expr)
    return expr


def _group_index(g: Column, groups: list[str]) -> Column:
    expr = F.lit(-1)
    for i, key in reversed(list(enumerate(groups))):
        expr = F.when(g == key, F.lit(i)).otherwise(expr)
    return expr


def proportional_interleave_sql(
    src: str,
    group_col: str,
    id_col: str,
    *,
    weights: dict[str, int],
    salt: str = "interleave",
    shards: int = 64,
    out_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`proportional_interleave` — the two-level
    rank collapses to one ``row_number() OVER (PARTITION BY group ORDER
    BY shard, md5, id)`` and the closed-form position becomes a K-row
    LEFT JOIN against the counts CTE (fan-out K per row — fine at
    oracle scale; the Spark side renders literals instead)."""
    strides, _ = _interleave_strides(weights)
    groups = sorted(weights)
    in_list = ", ".join(sql_str_lit(x) for x in groups)
    g = f"COALESCE(CAST({group_col} AS VARCHAR), '')"
    h = salted_md5_sql(sql_str_lit(salt), id_col)
    stride_case = "CASE __g " + " ".join(
        f"WHEN {sql_str_lit(t)} THEN {strides[t]}" for t in groups
    ) + " END"
    gidx_case = "CASE __g " + " ".join(
        f"WHEN {sql_str_lit(t)} THEN {i}" for i, t in enumerate(groups)
    ) + " END"
    cols = (
        ", ".join(f"r.{c}" for c in out_cols)
        if out_cols
        else 'r.* EXCLUDE (__g, __v, __gi, "rank")'
    )
    return f"""
WITH tagged AS (
  SELECT *, {g} AS __g,
         {_shard16_sql(h, shards)} AS __sh,
         {h} AS __h
  FROM ({src}) z
  WHERE {g} IN ({in_list})
),
cnts AS (
  SELECT __g AS __cg, CAST({stride_case} AS BIGINT) AS __cs,
         {gidx_case} AS __ci, CAST(count(*) AS BIGINT) AS __cn
  FROM tagged GROUP BY __g
),
ranked AS (
  SELECT * EXCLUDE (__sh, __h),
         CAST(row_number() OVER (
           PARTITION BY __g ORDER BY __sh, __h, CAST({id_col} AS VARCHAR)
         ) AS BIGINT) AS "rank",
         CAST(row_number() OVER (
           PARTITION BY __g ORDER BY __sh, __h, CAST({id_col} AS VARCHAR)
         ) AS BIGINT) * CAST({stride_case} AS BIGINT) AS __v,
         {gidx_case} AS __gi
  FROM tagged
),
pre AS (
  SELECT r.__g AS pg, r."rank" AS pr,
         r."rank" - 1 + COALESCE(SUM(
           LEAST(c.__cn, (r.__v - CASE WHEN c.__ci < r.__gi THEN 0 ELSE 1 END) // c.__cs)
         ), 0) AS pos
  FROM ranked r
  LEFT JOIN cnts c ON c.__cg <> r.__g
  GROUP BY r.__g, r."rank", r.__v, r.__gi
)
SELECT {cols}, CAST(r."rank" AS BIGINT) AS "rank", CAST(p.pos AS BIGINT) AS pos
FROM ranked r
JOIN pre p ON p.pg = r.__g AND p.pr = r."rank"
"""


def sample_negatives(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 4,
    salt: str = "neg0",
    group_col: str | None = None,
    shards: int = 64,
    anchor_col: str = "anchor_id",
    neg_col: str = "neg_id",
    draw_col: str = "draw",
) -> DataFrame:
    """X63: DETERMINISTIC NEGATIVE SAMPLING for contrastive training —
    for every document (anchor), ``k`` pseudo-random other documents
    drawn md5-uniformly from the corpus, reproducible on any engine,
    partitioning, or run (the same discipline as ``shuffle_shards``:
    sampling that re-runs bit-identically is the only kind an auditable
    training-data pipeline can ship).  The standard in-batch-negative /
    contrastive-pretraining prep step (SimCLR/CLIP/DPR-style), done
    corpus-side so the dataloader stays a dumb reader.

    Output: one row per (anchor, draw): ``(anchor_col, draw_col 0..k-1,
    neg_col)``.  The draw targets a DENSE md5-shuffle rank: ``idx =
    md5int(salt:d:anchor_id:draw) % N`` (15 hex digits — exact BIGINT,
    mod bias ≤ 2⁻⁴⁴ relative), bumped by one (mod N) when it lands on
    the anchor itself, so no anchor is its own negative.  Two draws of
    one anchor MAY collide (true uniform sampling with replacement —
    dedupe at the edge if the trainer needs distinct negatives).
    ``group_col`` drops negatives sharing the anchor's group (the
    near-positive false-negative guard, e.g. same X47 domain or same
    host) — such anchors then carry FEWER than ``k`` rows, deliberately:
    a deterministic re-draw chain would bias toward small groups.

    Corpora of size 0 or 1 return no rows (there is no valid negative).
    ``id_col`` must be unique and non-null per row (snapshot semantics).

    Scale shape: the dense rank is :func:`_sharded_rank` over an S-row
    shard count table (no single-partition window); construction
    collects that table, which also yields N.  Draws are a
    row-local ``explode(sequence(0, k-1))``; resolving a draw to its
    negative is ONE BIGINT equi-join against the rank frame (both sides
    exchange on the rank key, co-partitioned) — output is k·N rows,
    nothing quadratic, zero Python.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    for c in (anchor_col, neg_col, draw_col):
        if c in df.columns:
            raise ValueError(
                f"output column {c!r} already exists in the input — rename via "
                "anchor_col=/neg_col=/draw_col="
            )
    h = salted_md5(F.lit(salt), F.col(id_col))
    grp = (
        F.coalesce(F.col(group_col).cast("string"), F.lit(""))
        if group_col is not None
        else F.lit("")
    )
    tagged = df.select(
        F.col(id_col).alias("__id"),
        grp.alias("__grp"),
        h.alias("__h"),
        _shard16(h, shards).alias("__sh"),
    )
    counts, ranked = _sharded_rank(tagged, [], "__id")
    n = sum(
        int(r["__c"]) for r in counts.collect()  # bounded-collect: S-row shard counts (N + the offset literals ride the same frame)
    )
    if n <= 1:
        return tagged.limit(0).select(
            F.col("__id").alias(anchor_col),
            F.lit(0).cast("int").alias(draw_col),
            F.col("__id").alias(neg_col),
        )
    ranked = ranked.select("__id", "__grp", (F.col("__rk") - 1).alias("__rk"))
    draws = ranked.select(
        F.col("__id").alias(anchor_col),
        F.col("__grp").alias("__agrp"),
        "__rk",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias(draw_col),
    )
    draw_key = F.concat_ws(
        ":", F.col(anchor_col).cast("string"), F.col(draw_col).cast("string")
    )
    raw_idx = hex_int(salted_md5(F.lit(f"{salt}:d"), draw_key), 1, 15) % n
    idx = F.when(raw_idx == F.col("__rk"), (raw_idx + 1) % n).otherwise(raw_idx)
    lookup = ranked.select(
        F.col("__rk").alias("__nrk"),
        F.col("__id").alias(neg_col),
        F.col("__grp").alias("__ngrp"),
    )
    out = (
        draws.withColumn("__nrk", idx)
        .join(lookup, "__nrk")
        .select(anchor_col, draw_col, neg_col, "__agrp", "__ngrp")
    )
    if group_col is not None:
        out = out.where(F.col("__agrp") != F.col("__ngrp"))
    return out.drop("__agrp", "__ngrp")


def sample_negatives_sql(
    src: str,
    id_col: str,
    *,
    k: int = 4,
    salt: str = "neg0",
    group_col: str | None = None,
    shards: int = 64,
) -> str:
    """DuckDB twin of :func:`sample_negatives` — the flat window form
    (``row_number() OVER (ORDER BY shard, md5, id) - 1``) the two-level
    build is equal to by construction, with the identical draw
    arithmetic.  ``src`` is a relation expression carrying ``id_col``
    (and ``group_col``).  String ids are twin-exact for ASCII (both
    engines compare bytewise there); non-ASCII ids hit the documented
    X55 codepoint-vs-byte collation divergence — rank ties across such
    ids are broken by the md5 column first, so divergence needs an md5
    collision and is theoretical."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    idq = id_col.replace('"', '""')
    grp = (
        f"COALESCE(CAST({group_col} AS VARCHAR), '')"
        if group_col is not None
        else "''"
    )
    guard = "WHERE d.grp <> n.grp" if group_col is not None else ""
    draw_h = salted_md5_sql(
        sql_str_lit(f"{salt}:d"), "CAST(a.id AS VARCHAR) || ':' || CAST(d.draw AS VARCHAR)"
    )
    return f"""
WITH sn_base AS (
  SELECT "{idq}" AS id, {grp} AS grp,
         {salted_md5_sql(sql_str_lit(salt), f'"{idq}"')} AS h
  FROM ({src})
),
sn_rk AS (
  SELECT id, grp,
         row_number() OVER (
           ORDER BY {_shard16_sql("h", shards)}, h, id
         ) - 1 AS rk,
         count(*) OVER () AS n
  FROM sn_base
),
sn_draw AS (
  SELECT a.id AS anchor_id, a.grp, d.draw, a.n,
         {hex_int_sql(draw_h, 1, 15)} % a.n AS raw_idx,
         a.rk
  FROM sn_rk a, (SELECT unnest(generate_series(0, {k - 1})) AS draw) d
  WHERE a.n > 1
)
SELECT d.anchor_id, CAST(d.draw AS INT) AS draw, n.id AS neg_id
FROM (
  SELECT anchor_id, grp, draw, n,
         CASE WHEN raw_idx = rk THEN (raw_idx + 1) % n ELSE raw_idx END AS idx
  FROM sn_draw
) d
JOIN (SELECT rk, id, grp FROM sn_rk) n ON n.rk = d.idx
{guard}
"""


# ---------------------------------------------------------------------------
# X70: deterministic weighted reservoir sampling (A-ES)
# ---------------------------------------------------------------------------


def weighted_reservoir_sample(
    df: DataFrame,
    k: int,
    *,
    weight_col: str,
    group_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "wrs0",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — k rows per
    group, inclusion probability proportional to ``weight_col`` at each
    sequential draw (Efraimidis & Spirakis 2006, "Weighted random
    sampling with a reservoir": rank by ``key = u^(1/w)`` DESC and take
    the top k; equivalently, and numerically safer, by ``ln(u)/w``
    DESC).  The uniform is the house md5 scheme — a 60-bit integer from
    ``md5(salt:id)`` (a NULL id hashes as ``''``) mapped to
    ``u = (h + 1)/2^60`` ∈ (0, 1] — so the selected SET is identical on
    every run, engine, and partitioning; a new ``salt`` is an
    independent re-draw, and with ``k=1`` the draw
    probability is exactly ``w_i / Σw`` (pytest-pinned against a pure
    numpy/hashlib reference over thousands of salts).

    The classic training-data uses: sample documents ∝ token count
    (so the TOKEN mass, not the doc count, is uniformly represented),
    quality-weighted subcorpus draws, per-source pools for mixture
    ablations — anywhere "take k, but favor heavy rows" must be
    reproducible.

    Scale shape: one row-local hash + key projection (whole-stage
    codegen; the only non-codegen step is the per-group top-k window —
    ONE shuffle on ``group_col``, the same shape as every top-k in this
    package; ``group_col=None`` ranks a single global reservoir).
    Rows with NULL or non-positive weight are dropped (no draw
    probability is defined for them — the ``temperature_resample``
    NULL-group convention).

    Cross-engine note: ``ln`` is class C (ORACLES.md) — the division,
    the power-of-two scale, and the comparison are IEEE-exact, so the
    twin (:func:`weighted_reservoir_sample_sql`) can only diverge if
    two keys in one group land within libm's ~2-ulp ln() spread of
    each other AT THE RANK-k BOUNDARY; the measured margin is frozen in
    PROBE_R14.json and re-measured by ``knife_probe.py`` (recorded in
    ORACLES.md).

    Output: the kept rows with ``wrs_rank`` (1-based, best key first).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col).cast("double")
    h = hex_int(salted_md5(F.lit(salt), F.col(id_col)), 1, 15)
    # (h + 1) / 2^60: exact power-of-two scale into (0, 1]
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.log(u) / w
    part = [group_col] if group_col is not None else []
    win = Window.partitionBy(*part).orderBy(
        key.desc(), F.col(id_col).asc()
    )
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("wrs_rank", F.row_number().over(win))
        .where(F.col("wrs_rank") <= k)
    )


def weighted_reservoir_sample_sql(
    src: str,
    k: int,
    *,
    weight_col: str,
    group_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "wrs0",
) -> str:
    """DuckDB twin of :func:`weighted_reservoir_sample`: the identical
    60-bit md5 uniform, the same ``ln((h+1)/2^60)/w`` key, the same
    (key DESC, id ASC) rank.  Returns the kept rows of ``src`` plus
    ``wrs_rank``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    part = f"PARTITION BY {group_col} " if group_col is not None else ""
    h = hex_int_sql(salted_md5_sql(sql_str_lit(salt), id_col), 1, 15)
    key = f"ln(({h} + 1) / 1152921504606846976.0) / CAST({weight_col} AS DOUBLE)"
    return f"""
SELECT * FROM (
  SELECT *, CAST(row_number() OVER (
           {part}ORDER BY {key} DESC, {id_col} ASC
         ) AS INT) AS wrs_rank
  FROM ({src})
  WHERE {weight_col} IS NOT NULL AND CAST({weight_col} AS DOUBLE) > 0
) WHERE wrs_rank <= {k}
"""
