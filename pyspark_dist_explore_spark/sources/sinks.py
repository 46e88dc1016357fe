"""Write-side layout helpers (SURVEY §2.3 scans/sinks completion): the
two physical layouts that decide scan cost at 100 TB.

- **Partitioned layout** (``write_partitioned``): one directory per
  partition-column value.  Catalyst turns equality/range predicates on
  partition columns into PartitionFilters — pruned directories are never
  listed, never opened, never read.  This is THE first-order lever for a
  100 TB corpus: a date-partitioned events table turns "last 7 days"
  from a full scan into 7 directory reads.
- **Bucketed layout** (``write_bucketed_table``): rows pre-hashed into a
  fixed bucket count per file.  Joins/aggregations on the bucket key
  elide their Exchange entirely (pinned by
  tests/test_scale_patterns.py::test_bucketed_join_elides_shuffle) —
  pay one shuffle at WRITE time, skip it on every subsequent join.

Small-files discipline: a naive partitioned write emits
``#tasks × #values`` files; ``write_partitioned`` repartitions by the
partition columns first (one task per live value → one file per
directory) and callers cap file size with ``max_records_per_file`` —
at scale both matter, because a million tiny files costs more in
listing/open overhead than the data read itself.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def _write_json_sidecar(spark: SparkSession, path: str, payload: dict) -> None:
    """Write a tiny JSON params sidecar THROUGH the Hadoop FileSystem
    API, so model artifacts land on whatever storage scheme the parquet
    half uses (HDFS/S3A/dbfs/file) — a driver-local ``open()`` would
    silently strand the sidecar on the driver's disk while the counts
    table lands remotely, breaking the load-time scheme verification
    exactly where it matters."""
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(payload), "utf-8"))
    finally:
        out.close()


def _read_json_sidecar(spark: SparkSession, path: str) -> dict:
    """Read a sidecar written by :func:`_write_json_sidecar` via the
    same Hadoop FileSystem API (any supported scheme)."""
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    finally:
        stream.close()


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    *,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` hive-partitioned by ``partition_by`` columns.

    Repartitions by the partition columns first so each live partition
    value is written by one task — one file per directory instead of one
    per (task × value).  For very large single partitions, set
    ``max_records_per_file`` to split them into bounded files (Spark
    rolls files at that row count; tune it to land near the cluster's
    preferred scan split, e.g. ~128 MB).

    Reading back: plain ``spark.read.parquet(path)`` — any filter on a
    partition column shows up as ``PartitionFilters`` in ``.explain``
    (pruned directories are skipped at file-listing time, before any
    I/O; pinned by tests/test_scale_patterns.py).
    """
    writer = df.repartition(*[df[c] for c in partition_by]).write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_by).format(fmt).save(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    key: str | Sequence[str],
    *,
    buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Save ``df`` as a bucketed+sorted catalog table (``saveAsTable`` —
    bucketing metadata lives in the catalog, so it needs a table, not a
    bare path).  Two tables bucketed the same way on the join key
    sort-merge-join with ZERO exchanges — the write-once/join-many trade
    that pays for itself after the first downstream join at scale.
    """
    keys = [key] if isinstance(key, str) else list(key)
    (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(name)
    )


def write_training_shards(
    df: DataFrame,
    key_col: str,
    path: str,
    *,
    shards: int,
    salt: str = "shuffle",
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    manifest_content_col: str | None = None,
) -> None:
    """The training DUMP in one call: deterministic global shuffle +
    sharding (:func:`operators.sampling.shuffle_shards`) landed as a
    hive layout ``path/shard=N/part-*.parquet`` with rows stored in
    ``pos`` order inside each shard — so a reader streaming shard files
    front-to-back sees the globally de-correlated, reproducible
    sequence trainers expect, without any read-time sort.

    ``key_col`` must be UNIQUE per row (the :func:`shuffle_shards`
    contract — duplicate keys tie on both hash and tiebreaker, making
    their relative ``pos`` partition-order-dependent and breaking the
    same-salt → byte-identical-dump guarantee).  In particular a
    multi-epoch stream from ``materialize_mixture`` repeats its id
    across epochs: shard it on a composite key, e.g.
    ``F.concat_ws(":", "doc_id", "epoch")``.

    Layout mechanics: hash-repartition by ``shard`` co-locates each
    shard WHOLLY in one task, so every shard directory gets exactly one
    file (no small-files explosion); hash collisions mean a task may
    carry more than one shard, so write parallelism is approximately —
    not exactly — ``shards``-way (with thousands of shards the
    imbalance washes out).  ``sortWithinPartitions(shard, pos)`` makes
    the in-file row order the training order (parquet preserves write
    order).  Same salt → byte-identical dump; a new salt is an
    independent epoch.  One shuffle + one per-shard sort total — the
    write-side twin of the registered ``corpus_shuffle_shards`` query.

    The call also lands the per-shard integrity card as a
    ``_manifest.json`` sidecar (:func:`write_shard_manifest`) for
    :func:`verify_training_shards`.  The sharded frame is ``persist``-ed
    (memory-then-disk) and both the writer and the manifest read the
    staged rows: the md5 shuffle is deterministic but the caller's input
    need not be (``rand()``, a ``sample``, a nondeterministic UDF, a
    re-read of mutating source files), and re-executing the plan for the
    manifest would fingerprint a different dataset than the one that
    landed.  The staging copy is released after the sidecar lands.
    Caveat: ``persist`` recomputes lost partitions from lineage, so an
    executor loss mid-write re-opens the window for a nondeterministic
    input.  Under ``mode='append'`` no sidecar is written and nothing is
    staged (the sidecar describes one complete dump, not an
    accumulation).
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators.sampling import shuffle_shards

    sharded = shuffle_shards(df, key_col, shards=shards, salt=salt)
    write_sidecar = mode != "append"
    if write_sidecar:
        sharded = sharded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        writer = (
            sharded.repartition(shards, F.col("shard"))
            .sortWithinPartitions("shard", "pos")
            .write.mode(mode)
            .partitionBy("shard")
        )
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(path)
        if write_sidecar:
            write_shard_manifest(
                sharded,
                path,
                id_col=key_col,
                content_col=manifest_content_col,
                extra={"shards": shards, "salt": salt},
            )
    finally:
        if write_sidecar:
            sharded.unpersist()


def shard_manifest(
    df: DataFrame,
    shard_col: str = "shard",
    id_col: str = "doc_id",
    content_col: str | None = None,
) -> DataFrame:
    """X46: per-shard integrity card — ``(shard, n_rows, sum_id,
    min_id, max_id, hash_sum)`` where ``hash_sum`` folds each id's
    md5 into a 44-bit integer and sums them (order-insensitive, so the
    fingerprint is layout-independent; SUM rather than XOR so
    duplicated rows — epochs — don't cancel in pairs).  Sums accumulate
    in DECIMAL(38,0): exact to ~10²⁵ rows, no silent BIGINT wrap.

    Non-numeric ids (e.g. the composite ``doc_id:epoch`` key a
    multi-epoch stream shards on) are fully fingerprinted by
    ``n_rows`` + ``hash_sum`` (md5 is id-type-agnostic); the numeric
    redundancy stats use ``try_cast`` and come back NULL rather than
    throwing under ANSI mode.

    ``content_col`` (round 12, X49's input) adds ``content_sum`` — the
    same 44-bit md5-fold sum over the CONTENT column, so two dumps with
    identical manifests are identical in content, not just id multiset
    (a re-crawled doc keeps its id; without a content sum, manifest
    equality cannot prove "nothing changed").  NULL content folds as
    the empty string.

    ONE map-side-combined aggregate, output |shards|-sized — the same
    cost class as the count a writer already pays.
    """
    from pyspark.sql import functions as F

    # every name resolution here parses quoted identifiers (F.col and
    # df[...] alike), so escape backticks once and use the quoted form
    # everywhere — an exotic column name can neither break nor rewrite
    # the try_cast expressions (r11 advisor catch)
    idq = id_col.replace("`", "``")
    shq = shard_col.replace("`", "``")
    ids = F.expr(f"`{idq}`").cast("string")
    h = F.conv(F.substring(F.md5(ids), 1, 11), 16, 10).cast("decimal(38,0)")
    return df.groupBy(F.expr(f"`{shq}`").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr(f"try_cast(`{idq}` AS DECIMAL(38,0))")).alias("sum_id"),
        F.min(F.expr(f"try_cast(`{idq}` AS BIGINT)")).alias("min_id"),
        F.max(F.expr(f"try_cast(`{idq}` AS BIGINT)")).alias("max_id"),
        F.sum(h).alias("hash_sum"),
        *(
            [
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.coalesce(
                                    F.expr(
                                        "`{}`".format(
                                            content_col.replace("`", "``")
                                        )
                                    ).cast("string"),
                                    F.lit(""),
                                )
                            ),
                            1,
                            11,
                        ),
                        16,
                        10,
                    ).cast("decimal(38,0)")
                ).alias("content_sum")
            ]
            if content_col is not None
            else []
        ),
    )


def write_shard_manifest(
    df: DataFrame,
    path: str,
    *,
    shard_col: str = "shard",
    id_col: str = "doc_id",
    content_col: str | None = None,
    extra: dict | None = None,
) -> dict:
    """Compute :func:`shard_manifest` over the frame ABOUT to land (the
    writer's intent, not whatever survived the write) and record it as
    a ``_manifest.json`` sidecar under ``path`` via the Hadoop
    FileSystem API (same scheme as the data).  Returns the payload."""
    rows = shard_manifest(df, shard_col, id_col, content_col).collect()  # bounded-collect: |shards|-row manifest
    payload = {
        "id_col": id_col,
        "manifest": {
            str(r["shard"]): {
                "n_rows": int(r["n_rows"]),
                # sums as strings (DECIMAL(38,0) exceeds JSON-safe ints);
                # numeric redundancy stats are None for non-numeric ids
                "sum_id": None if r["sum_id"] is None else str(r["sum_id"]),
                "min_id": None if r["min_id"] is None else int(r["min_id"]),
                "max_id": None if r["max_id"] is None else int(r["max_id"]),
                "hash_sum": str(r["hash_sum"]),
                **(
                    {"content_sum": str(r["content_sum"])}
                    if content_col is not None
                    else {}
                ),
            }
            for r in rows
        },
    }
    if content_col is not None:
        payload["content_col"] = content_col
    if extra:
        payload.update(extra)
    _write_json_sidecar(df.sparkSession, f"{path}/_manifest.json", payload)
    return payload


def verify_training_shards(
    spark: SparkSession, path: str, *, strict: bool = True
) -> DataFrame:
    """X46 read-side: recompute the per-shard integrity card over the
    LANDED parquet and compare it to the ``_manifest.json`` the writer
    recorded — the check a 100 TB consumer runs before training to
    catch partial writes, lost shard directories, and double-landed
    files.  Returns one row per shard in either side:
    ``(shard, ok, expected_rows, actual_rows)``; ``strict=True``
    (default) raises on any mismatch or missing shard.

    Cost: one scan of the dump collapsing to a |shards|-row aggregate
    (the integrity pass is scan-bound by construction — no shuffle of
    data rows, no sort)."""
    payload = _read_json_sidecar(spark, f"{path}/_manifest.json")
    want = payload["manifest"]
    got = {
        str(r["shard"]): r
        for r in shard_manifest(
            spark.read.parquet(path),
            "shard",
            payload["id_col"],
            payload.get("content_col"),
        ).collect()  # bounded-collect: |shards|-row manifest
    }
    report = []
    problems: dict[int, str] = {}
    stats = ("n_rows", "sum_id", "min_id", "max_id", "hash_sum") + (
        ("content_sum",) if payload.get("content_col") is not None else ()
    )
    for shard in sorted(set(want) | set(got), key=int):
        w, g = want.get(shard), got.get(shard)
        if w is None:
            bad_stats = ["landed but absent from the manifest"]
        elif g is None:
            bad_stats = ["in the manifest but no shard directory landed"]
        else:
            # compare as strings — the sidecar stores sums as strings
            # (DECIMAL(38,0) exceeds JSON-safe integers)
            bad_stats = [
                f"{k} expected {w[k]}, landed {g[k]}"
                for k in stats
                if str(w[k]) != str(g[k])
            ]
        if bad_stats:
            problems[int(shard)] = "; ".join(str(b) for b in bad_stats)
        report.append(
            (
                int(shard),
                not bad_stats,
                int(w["n_rows"]) if w else None,
                int(g["n_rows"]) if g else None,
            )
        )
    if strict and problems:
        raise ValueError(
            f"shard manifest mismatch at {path}: "
            + ", ".join(f"shard {s}: {msg}" for s, msg in problems.items())
        )
    return spark.createDataFrame(
        report, "shard int, ok boolean, expected_rows bigint, actual_rows bigint"
    )


def write_neardup_snapshot(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Land the near-dup SNAPSHOT ARTIFACTS for a corpus — the one-time
    build that lets every future crawl batch run
    :func:`operators.dedup.incremental_minhash_neardup` without ever
    re-minhashing the corpus: ``path/bands/`` (``doc_id, band,
    band_hash``, partitioned by ``band`` so a batch probe prunes to the
    band directories it actually hits) and ``path/sigs/`` (the
    signature table).  Parameters are recorded in ``path/_params.json``
    and VERIFIED at load time — probing with a different scheme would
    silently match nothing, which is exactly the drift the check
    refuses.
    """
    from pyspark_dist_explore_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signatures,
    )

    kw = dict(num_hashes=num_hashes, bands=bands, shingle_n=shingle_n, hash_fn=hash_fn)
    # stage the signatures ONCE with localCheckpoint and feed BOTH
    # artifacts from the staged frame — the corpus is shingled+min-hashed
    # exactly once per snapshot build, and (the round-9 advisor's catch)
    # the band rows cover only the INCOMING docs: deriving them from a
    # read-back of path/sigs would, under mode='append', re-band every
    # previously-snapshotted doc and duplicate its band rows
    sigs = minhash_signatures(
        docs, text_col, id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, hash_fn=hash_fn,
    ).localCheckpoint(eager=False)
    sigs.write.mode(mode).parquet(f"{path}/sigs")
    minhash_band_rows(
        docs, text_col, id_col, signatures=sigs, **kw
    ).write.mode(mode).partitionBy("band").parquet(f"{path}/bands")
    # params sidecar: tiny JSON, written through the Hadoop FS so the
    # artifact works on the same scheme as the parquet halves
    _write_json_sidecar(docs.sparkSession, f"{path}/_params.json", kw)


def load_neardup_snapshot(spark, path: str, *, expect: dict | None = None):
    """Load ``(bands_df, sigs_df, params)`` written by
    :func:`write_neardup_snapshot`.  ``expect``: the scheme the caller
    is about to probe with (``num_hashes``/``bands``/``shingle_n``/
    ``hash_fn``) — raises on mismatch instead of silently matching
    nothing."""
    params = _read_json_sidecar(spark, f"{path}/_params.json")
    if expect is not None:
        diffs = {k: (params.get(k), v) for k, v in expect.items() if params.get(k) != v}
        if diffs:
            raise ValueError(
                f"snapshot at {path} was built with a different scheme: {diffs} "
                "(stored, expected) — probing would silently match nothing"
            )
    return (
        spark.read.parquet(f"{path}/bands"),
        spark.read.parquet(f"{path}/sigs"),
        params,
    )


def write_dsir_model(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    n_buckets: int = 1 << 12,
    bigrams: bool = True,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Land a DSIR bag-of-buckets MODEL for a corpus (X30,
    ``operators/dsir.py``) — the one-time count-table build that lets
    every future selection run score against this corpus without
    re-scanning it: ``path/counts/`` is the ≤ ``n_buckets``-row
    ``(bucket, cnt)`` table (driver-trivial parquet however large the
    corpus).  The featurization scheme is recorded in
    ``path/_params.json`` and VERIFIED at load — scoring with counts
    built under a different gram/bucket scheme would be silently
    meaningless, which is exactly the drift the check refuses.

    The production shape: land the model for the big raw crawl once,
    land one per candidate target mix, then every
    :func:`~pyspark_dist_explore_spark.operators.dsir.dsir_scores` run
    passes ``raw_counts=``/``target_counts=`` from
    :func:`load_dsir_model` and scans ONLY the stream being scored.
    """
    from pyspark_dist_explore_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_gram_rows,
    )

    kw = dict(n_buckets=n_buckets, bigrams=bigrams, hash_fn=hash_fn)
    dsir_bucket_counts(
        dsir_gram_rows(corpus, text_col, id_col, bigrams=bigrams),
        n_buckets=n_buckets,
        hash_fn=hash_fn,
    ).write.mode(mode).parquet(f"{path}/counts")
    _write_json_sidecar(corpus.sparkSession, f"{path}/_params.json", kw)


def load_dsir_model(spark, path: str, *, expect: dict | None = None):
    """Load ``(counts_df, params)`` written by :func:`write_dsir_model`.
    ``expect``: the scheme the caller is about to score with
    (``n_buckets``/``bigrams``/``hash_fn``) — raises on mismatch
    instead of silently mis-scoring."""
    params = _read_json_sidecar(spark, f"{path}/_params.json")
    if expect is not None:
        diffs = {k: (params.get(k), v) for k, v in expect.items() if params.get(k) != v}
        if diffs:
            raise ValueError(
                f"DSIR model at {path} was built with a different scheme: {diffs} "
                "(stored, expected) — scoring against it would be meaningless"
            )
    return spark.read.parquet(f"{path}/counts"), params


def write_pq_index(
    vectors: DataFrame,
    path: str,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    n_centroids: int = 16,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: str = "sample",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    assign_round: int | None = None,
    rotation_salt: str | None = None,
    residual: bool = False,
    mode: str = "overwrite",
) -> None:
    """Land the IVF-PQ INDEX ARTIFACTS for an embedding corpus — the
    one-time build that lets every future
    :func:`~pyspark_dist_explore_spark.operators.similarity.ivf_pq_topk`
    serving run execute WITHOUT the raw vectors (Jégou et al. 2011's
    index/serve split made literal):

    - ``path/centroids/`` — the ``n_centroids`` coarse quantizer rows
      ``(cent_id, cv)`` (model-sized);
    - ``path/codebooks/`` — the ``m · n_codes`` PQ codebook rows
      ``(sub, code, cv)`` (model-sized);
    - ``path/codes/`` — ``(vec_id, codes)``: ``m`` small ints per
      vector instead of ``dim`` floats (the 32× scan-bandwidth
      artifact);
    - ``path/assign/`` — the inverted lists ``(vec_id, cent_id)``,
      PARTITIONED BY ``cent_id`` so a query's ``n_probe`` probes prune
      to exactly the list directories they hit — at 100 TB the serving
      scan reads n_probe/n_centroids of the index, never the corpus.

    Parameters are recorded in ``path/_params.json`` and VERIFIED at
    load — serving with artifacts built under a different scheme
    (other ``m``/``dim`` slicing, other centroid count) would silently
    mis-rank, which is exactly the drift the check refuses.

    The corpus is scanned twice (one Arrow encode pass, one broadcast
    assignment aggregate); both stages reuse the exact library
    operators, so the landed index serves bit-for-bit what the
    in-memory composition would (pytest-pinned round trip).

    ``rotation_salt=`` (round 14, OPQ-style): apply
    :func:`~pyspark_dist_explore_spark.operators.similarity.
    rotate_embeddings`'s signed permutation BEFORE slicing, balancing
    subspace energy on correlated corpora (the rotation is exactly
    orthogonal, so IVF assignments and true dots are unchanged; only
    the PQ slicing improves).  The salt is recorded in the sidecar and
    VERIFIED at load — serving queries must be rotated with the same
    salt (``load_pq_index`` returns it in ``params``).  Supplied
    ``centroids=``/``codebooks=`` must already be in rotated space.

    ``residual=True`` (round 14, X69): the true IVFADC index — PQ codes
    quantize the coarse RESIDUAL ``x − c(x)`` (squared-L2 assignment
    against RAW centroids, so default centroids are NOT unit-normalized
    in this mode), and the residual enc ``(vec_id, cent_id, codes)`` is
    ONE ``cent_id``-partitioned artifact that serves as both the code
    table and the inverted lists (``path/codes/cent_id=N/``; no
    separate ``assign`` directory — :func:`load_pq_index` derives the
    assignment view from it).  Serve the loaded artifacts with
    :func:`~pyspark_dist_explore_spark.operators.similarity.
    ivf_pq_residual_topk` (``vectors=None``); the flag rides the
    sidecar so a raw-space server cannot silently consume a residual
    index or vice versa.  ``assign_round`` does not apply (the residual
    path has no rounding branch).
    """
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators.similarity import (
        _unit,
        ivf_coarse_assign,
        ivf_residuals,
        pq_codebooks,
        pq_encode,
        pq_residual_codebooks,
        rotate_embeddings,
    )

    if residual and assign_round is not None:
        raise ValueError(
            "assign_round does not apply to residual indexes (the L2 "
            "assignment path has no rounding branch)"
        )
    kw = dict(
        m=m,
        dim=dim,
        n_codes=n_codes,
        n_centroids=n_centroids,
        n_assign=n_assign,
        fit=fit,
        assign_round=assign_round,
        rotation_salt=rotation_salt,
        residual=residual,
    )
    if rotation_salt is not None:
        vectors = rotate_embeddings(
            vectors, dim=dim, vec_col=vec_col, salt=rotation_salt
        )
    if centroids is None:
        cv = (
            F.col(vec_col).cast("array<double>")
            if residual
            else _unit(F.col(vec_col))
        )
        centroids = vectors.where(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), cv.alias("cv")
        )
    # the centroid frame feeds BOTH landed artifacts and the assignment
    # build below — stage it once (model-sized: n_centroids rows)
    cents = centroids.select(
        "cent_id", F.col("cv").cast("array<double>").alias("cv")
    ).localCheckpoint(eager=False)
    cents.write.mode(mode).parquet(f"{path}/centroids")
    if codebooks is None:
        if residual:
            codebooks = pq_residual_codebooks(
                vectors, cents, m=m, dim=dim, n_codes=n_codes,
                id_col=id_col, vec_col=vec_col, fit=fit,
            )
        else:
            codebooks = pq_codebooks(
                vectors, m=m, dim=dim, n_codes=n_codes,
                id_col=id_col, vec_col=vec_col, fit=fit,
            )
    cb = codebooks.select("sub", "code", "cv").localCheckpoint(eager=False)
    cb.write.mode(mode).parquet(f"{path}/codebooks")
    if residual:
        # ONE artifact: the residual enc is the code table AND the
        # inverted lists — partitioned on cent_id so a probe prunes to
        # the list directories it hits (same repartition-first
        # discipline as the raw-space assign write below)
        enc = pq_encode(
            ivf_residuals(
                vectors, cents, n_assign=n_assign,
                id_col=id_col, vec_col=vec_col,
            ),
            cb, m=m, dim=dim,
            id_col="vec_id", vec_col="residual", keep=("cent_id",),
        )
        enc.repartition("cent_id").write.mode(mode).partitionBy(
            "cent_id"
        ).parquet(f"{path}/codes")
        _write_json_sidecar(vectors.sparkSession, f"{path}/_params.json", kw)
        return
    pq_encode(
        vectors, cb, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    ).write.mode(mode).parquet(f"{path}/codes")
    # repartition ON the partition column before the partitioned write:
    # without it every input partition opens a writer per inverted list
    # (input_partitions × n_centroids small files — the r14 probe
    # measured the fan-out at 23 s vs 2.6 s for 200k rows); the shuffle
    # moves only (vec_id, cent_id) pairs and the write lands one file
    # per list (bound per-file size with
    # spark.sql.files.maxRecordsPerFile for skewed lists at scale)
    ivf_coarse_assign(
        vectors, cents,
        n_assign=n_assign, assign_round=assign_round,
        id_col=id_col, vec_col=vec_col,
    ).repartition("cent_id").write.mode(mode).partitionBy("cent_id").parquet(
        f"{path}/assign"
    )
    _write_json_sidecar(vectors.sparkSession, f"{path}/_params.json", kw)


def load_pq_index(spark: SparkSession, path: str, *, expect: dict | None = None):
    """Load ``(centroids_df, codebooks_df, codes_df, assignments_df,
    params)`` written by :func:`write_pq_index` — pass the frames
    straight to
    :func:`~pyspark_dist_explore_spark.operators.similarity.ivf_pq_topk`
    as ``centroids=``/``codebooks=``/``codes=``/``assignments=`` with
    ``vectors=None``.  ``expect``: the scheme the caller is about to
    serve with (any of ``m``/``dim``/``n_codes``/``n_centroids``/
    ``n_assign``/``fit``/``assign_round``/``residual``) — raises on
    mismatch instead of silently mis-ranking.

    For a ``residual=True`` index the ``codes`` frame is the residual
    enc ``(vec_id, cent_id, codes)`` — pass it to
    :func:`~pyspark_dist_explore_spark.operators.similarity.
    ivf_pq_residual_topk` as ``enc=`` — and the ``assignments`` frame
    is a projection of the same artifact (no second read; the
    cent_id-pruned directories back both)."""
    params = _read_json_sidecar(spark, f"{path}/_params.json")
    if expect is not None:
        diffs = {k: (params.get(k), v) for k, v in expect.items() if params.get(k) != v}
        if diffs:
            raise ValueError(
                f"PQ index at {path} was built with a different scheme: {diffs} "
                "(stored, expected) — serving against it would silently mis-rank"
            )
    codes = spark.read.parquet(f"{path}/codes")
    if params.get("residual"):
        return (
            spark.read.parquet(f"{path}/centroids"),
            spark.read.parquet(f"{path}/codebooks"),
            codes,
            codes.select("vec_id", "cent_id"),
            params,
        )
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/codebooks"),
        codes,
        spark.read.parquet(f"{path}/assign"),
        params,
    )


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    partitions: int | None = None,
) -> None:
    """Land a corpus as JSONL — the LLM-corpus interchange format (one
    JSON object per line; what tokenizer trainers, external curation
    tools, and most public datasets speak).  ``compression='gzip'``
    (default) trades CPU for the ~4× text-compression win that usually
    decides 100 TB storage bills; ``partitions=`` coalesces the write
    (JSONL consumers often want few large shards — note ``coalesce``
    caps write parallelism at that number)."""
    w = df.coalesce(partitions) if partitions is not None else df
    writer = w.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.json(path)


def read_jsonl(spark, path: str, *, schema=None) -> DataFrame:
    """Read a JSONL corpus.  PASS ``schema=`` IN PRODUCTION: without it
    Spark runs a full inference scan over every byte before the real
    job starts — at 100 TB that is a second pass you did not order.
    Fields absent from a line arrive NULL; extra fields are dropped
    when a schema is given (the standard Spark JSON semantics).
    Compressed shards (.gz etc.) are detected by extension."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)

def corpus_diff_dirs(
    spark: SparkSession,
    old_path: str,
    new_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    token_col: str | None = None,
) -> DataFrame:
    """X49 over landed dumps, with the X46 manifest SHORT-CIRCUIT: when
    BOTH paths carry a ``_manifest.json`` sidecar, the payloads are
    identical, AND the manifest fingerprints content
    (``write_shard_manifest(content_col=...)`` /
    ``write_training_shards(manifest_content_col=...)``), the dumps are
    identical in id multiset and content — return the all-unchanged
    card from the manifest totals WITHOUT scanning either dump (one
    ``''`` row; the token columns are NULL — unknowable without a
    scan).  An ID-ONLY manifest equality proves nothing about changed
    text (a re-crawled doc keeps its id), so it does NOT short-circuit
    — the scan runs.  Otherwise (missing/differing sidecars) this is
    :func:`~pyspark_dist_explore_spark.operators.dedup.corpus_diff`
    over the two parquet reads."""
    from pyspark_dist_explore_spark.operators.dedup import corpus_diff

    payloads = []
    for path in (old_path, new_path):
        try:
            payloads.append(_read_json_sidecar(spark, f"{path}/_manifest.json"))
        except Exception:
            payloads.append(None)
    mo, mn = payloads
    if (
        mo is not None
        and mo == mn
        and mo.get("content_col") is not None
    ):
        total = sum(int(v["n_rows"]) for v in mo["manifest"].values())
        return spark.createDataFrame(
            [("", 0, 0, 0, total, None, None, None, total, total, None, None)],
            "group string, n_added bigint, n_removed bigint, n_changed bigint,"
            " n_unchanged bigint, tokens_added bigint, tokens_removed bigint,"
            " tokens_changed_delta bigint, n_old bigint, n_new bigint,"
            " tokens_old bigint, tokens_new bigint",
        )
    return corpus_diff(
        spark.read.parquet(old_path),
        spark.read.parquet(new_path),
        text_col,
        id_col,
        group_col=group_col,
        token_col=token_col,
    )



# ---------------------------------------------------------------------------
# X71: WebDataset-style tar shard sink / source
# ---------------------------------------------------------------------------


def _tar_fs_for(path: str):
    """(pyarrow filesystem, base path) for a local path or fs URI —
    executors re-derive it from the path string alone, so the writer
    closure ships no filesystem handles."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def write_tar_shards(
    df: DataFrame,
    path: str,
    *,
    shards: int,
    members: dict,
    key_col: str = "doc_id",
    salt: str = "wds0",
) -> DataFrame:
    """Land a corpus as WEBDATASET-STYLE TAR SHARDS — the sequential-IO
    layout multimodal training loaders consume (the public WebDataset
    convention: ``shard-00000.tar`` files whose members group per-sample
    by basename, ``<basename>.<ext>`` for each modality/field;
    github.com/webdataset/webdataset "WebDataset format").  Samples are
    placed by the SAME deterministic md5 shuffle+shard the parquet dump
    uses (:func:`~pyspark_dist_explore_spark.operators.sampling.
    shuffle_shards` — same salt → byte-identical shards, a new salt is
    an independent epoch; ``key_col`` must be unique per row, the
    shuffle_shards contract).

    ``members`` maps member EXTENSION → source column, e.g.
    ``{"txt": "text", "json": "meta", "bin": "payload"}`` — string
    columns land utf-8, binary columns land as-is; a sample's members
    sit adjacent in ``members`` order under the shared basename
    ``<pos>_<key>`` (fixed-width pos keeps tar order == training
    order).  Tar bytes are fully deterministic: USTAR format,
    ``mtime=0``, ``uid=gid=0``, empty names, mode 0644 — two writes of
    the same frame are byte-identical (pytest-pinned), so shard-level
    md5s are stable integrity cards.

    Scale shape: ONE shuffle (hash-repartition on ``shard``), then each
    task STREAMS its shard's tar straight to the target filesystem via
    ``pyarrow.fs`` (local path or ``s3://``/``hdfs://`` URI — no
    driver-side funnel, no local staging).  Each shard's rows pass
    through one Arrow group (the applyInPandas contract), so size
    shards to the usual ~0.1–1 GB trainer convention — exactly the
    regime where whole-shard batches fit executor memory.  The per-shard
    manifest ``(shard, n_samples, n_members, n_bytes, tar_md5)`` lands
    at ``path/_tar_manifest`` in the same job that writes the tars,
    next to a ``path/_params.json`` sidecar (shards, salt, member
    schema) that :func:`read_tar_shards` verifies; the return value is
    the manifest read back from ``path/_tar_manifest``, so actions on
    it never write the tars again.

    Reference parity note: this is the write side the reference's
    single-node pipelines get from the ``webdataset`` library's
    ``ShardWriter``; here the shard build is distributed and the
    assignment is the hash-checked X14 shuffle."""
    import io
    import hashlib
    import tarfile

    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, StringType,
    )

    from pyspark_dist_explore_spark.operators.sampling import shuffle_shards

    if not members:
        raise ValueError("members must map at least one extension to a column")
    for ext, col in members.items():
        if "." in ext or "/" in ext:
            raise ValueError(f"member extension {ext!r} may not contain '.' or '/'")
        if col not in df.columns:
            raise ValueError(f"member column {col!r} not in frame: {df.columns}")
        t = df.schema[col].dataType
        if not isinstance(t, (StringType, BinaryType)):
            raise ValueError(
                f"member column {col!r} must be string or binary, got {t}"
            )
    member_items = list(members.items())
    pad = max(6, len(str(shards)))  # shard-000000.tar, the wds convention
    pos_pad = 12

    sharded = shuffle_shards(df, key_col, shards=shards, salt=salt).select(
        F.col("shard").cast("int").alias("shard"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col(key_col).cast("string").alias("s_key"),
        *[F.col(col).alias(f"m_{i}") for i, (_, col) in enumerate(member_items)],
    )

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        fsys, base = _tar_fs_for(path)
        out_rows = []
        for shard_id, grp in pdf.groupby("shard"):
            grp = grp.sort_values("pos")
            name = f"{base}/shard-{int(shard_id):0{pad}d}.tar"
            buf = io.BytesIO()
            with tarfile.open(
                fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
            ) as tar:
                for row in grp.itertuples(index=False):
                    basename = f"{int(row.pos):0{pos_pad}d}_{row.s_key}"
                    for i, (ext, _) in enumerate(member_items):
                        payload = getattr(row, f"m_{i}")
                        if payload is None:
                            continue
                        data = (
                            payload.encode("utf-8")
                            if isinstance(payload, str)
                            else bytes(payload)
                        )
                        info = tarfile.TarInfo(name=f"{basename}.{ext}")
                        info.size = len(data)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        info.mode = 0o644
                        tar.addfile(info, io.BytesIO(data))
            blob = buf.getvalue()
            with fsys.open_output_stream(name) as f:
                f.write(blob)
            out_rows.append(
                {
                    "shard": int(shard_id),
                    "n_samples": int(len(grp)),
                    "n_members": int(
                        sum(
                            int(getattr(r, f"m_{i}") is not None)
                            for r in grp.itertuples(index=False)
                            for i in range(len(member_items))
                        )
                    ),
                    "n_bytes": int(len(blob)),
                    "tar_md5": hashlib.md5(blob).hexdigest(),
                }
            )
        return pd.DataFrame(
            out_rows,
            columns=["shard", "n_samples", "n_members", "n_bytes", "tar_md5"],
        )

    fsys, base = _tar_fs_for(path)
    fsys.create_dir(base, recursive=True)
    manifest_df = (
        sharded.repartition(shards, F.col("shard"))
        .groupBy("shard")
        .applyInPandas(
            _write_shard,
            "shard int, n_samples bigint, n_members bigint, n_bytes bigint, "
            "tar_md5 string",
        )
    )
    # the write both triggers the tar side-effects and lands the
    # manifest rows
    manifest_df.write.mode("overwrite").parquet(f"{path}/_tar_manifest")
    _write_json_sidecar(
        df.sparkSession,
        f"{path}/_params.json",
        {
            "shards": shards,
            "salt": salt,
            "key_col": key_col,
            "members": {k: v for k, v in member_items},
        },
    )
    return df.sparkSession.read.parquet(f"{path}/_tar_manifest")


def read_tar_shards(
    spark: SparkSession, path: str, *, expect: dict | None = None
) -> DataFrame:
    """Read WebDataset-style shards back as ``(shard, pos, key, ext,
    payload binary)`` rows — ``binaryFile`` lists and loads each tar
    (one row per shard, distributed), an Arrow ``mapInPandas`` unpacks
    members; the ``<pos>_<key>.<ext>`` basename convention of
    :func:`write_tar_shards` is parsed back so training order and
    sample identity survive the round trip (content equality is
    pytest-pinned).  ``expect`` verifies the ``_params.json`` sidecar
    like :func:`load_pq_index` — reading shards written under a
    different member schema or salt fails loudly."""
    import io
    import os
    import re
    import tarfile

    import pandas as pd

    if expect is not None:
        params = _read_json_sidecar(spark, f"{path}/_params.json")
        diffs = {
            k: (params.get(k), v) for k, v in expect.items() if params.get(k) != v
        }
        if diffs:
            raise ValueError(
                f"tar shards at {path} were written with a different scheme: "
                f"{diffs} (stored, expected)"
            )
    shard_re = re.compile(r"shard-(\d+)\.tar$")

    def _unpack(batches):
        for pdf in batches:
            out = []
            for fname, content in zip(pdf["path"], pdf["content"]):
                m = shard_re.search(os.path.basename(fname))
                if m is None:
                    continue
                shard_id = int(m.group(1))
                with tarfile.open(
                    fileobj=io.BytesIO(content), mode="r"
                ) as tar:
                    for info in tar.getmembers():
                        base, ext = info.name.rsplit(".", 1)
                        pos_s, key = base.split("_", 1)
                        out.append(
                            {
                                "shard": shard_id,
                                "pos": int(pos_s),
                                "key": key,
                                "ext": ext,
                                "payload": tar.extractfile(info).read(),
                            }
                        )
            yield pd.DataFrame(
                out, columns=["shard", "pos", "key", "ext", "payload"]
            )

    blobs = spark.read.format("binaryFile").load(f"{path}/shard-*.tar")
    return blobs.select("path", "content").mapInPandas(
        _unpack, "shard int, pos bigint, key string, ext string, payload binary"
    )


def verify_tar_shards(spark: SparkSession, path: str) -> DataFrame:
    """Integrity check of a landed tar dump: recompute each shard
    file's md5/size from the bytes on disk and compare against the
    ``_tar_manifest`` the writer recorded — returns one row per shard
    with ``ok`` false on any mismatch or missing/extra shard (the
    :func:`verify_training_shards` discipline for the tar layout)."""
    import hashlib
    import os
    import re

    import pandas as pd

    from pyspark.sql import functions as F

    shard_re = re.compile(r"shard-(\d+)\.tar$")

    def _card(batches):
        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["path"], pdf["content"]):
                m = shard_re.search(os.path.basename(fname))
                if m is None:
                    continue
                rows.append(
                    {
                        "shard": int(m.group(1)),
                        "disk_bytes": len(content),
                        "disk_md5": hashlib.md5(content).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows, columns=["shard", "disk_bytes", "disk_md5"])

    disk = (
        spark.read.format("binaryFile")
        .load(f"{path}/shard-*.tar")
        .select("path", "content")
        .mapInPandas(_card, "shard int, disk_bytes bigint, disk_md5 string")
    )
    manifest = spark.read.parquet(f"{path}/_tar_manifest")
    return (
        manifest.join(disk, "shard", "full_outer")
        .select(
            "shard",
            "n_samples",
            "n_bytes",
            "tar_md5",
            "disk_bytes",
            "disk_md5",
            (
                F.col("tar_md5").isNotNull()
                & F.col("disk_md5").isNotNull()
                & (F.col("tar_md5") == F.col("disk_md5"))
                & (F.col("n_bytes") == F.col("disk_bytes"))
            ).alias("ok"),
        )
    )
