"""Source-loader contract tests (sources/tables.py): the three physical
``events.ts`` schemas must all normalize to the same (ts TIMESTAMP µs,
ts_ns BIGINT) contract, with flooring nanos→micros division and no
session-conf mutation unless the footer actually demands it."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _write_events_nanos(path: str, nanos: list[int]) -> None:
    """events.parquet whose ts column is physical TIMESTAMP(NANOS)."""
    n = len(nanos)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    # parquet format version 2.6 keeps TIMESTAMP(NANOS) instead of
    # coercing to micros — the legacy physical schema the loader handles
    pq.write_table(table, path, version="2.6", coerce_timestamps=None)


def test_nanos_branch_floor_division(spark, tmp_path):
    """Pre-1970 nanos not divisible by 1000 must floor (DuckDB epoch()
    semantics), not truncate toward zero — and positive values agree."""
    sf_dir = str(tmp_path)
    nanos = [-1, -999, -1001, -1500, 0, 1, 999, 1001, 1_700_000_000_123_456_789]
    _write_events_nanos(os.path.join(sf_dir, "events.parquet"), nanos)
    df = load_table(spark, sf_dir, "events")
    rows = {r["event_id"]: r for r in df.select("event_id", "ts_ns").collect()}
    for i, ns in enumerate(nanos):
        assert rows[i]["ts_ns"] == ns
    # compare via unix_micros on the normalized ts column (exact, no tz games)
    got = {
        r["event_id"]: r["m"]
        for r in df.select("event_id", F.unix_micros("ts").alias("m")).collect()
    }
    for i, ns in enumerate(nanos):
        assert got[i] == ns // 1000, f"ns={ns}: got {got[i]}, want {ns // 1000}"


def test_micros_schema_does_not_mutate_session_conf(spark):
    """Loading the (timestamp[us]) driver testdata must not flip the
    session-wide nanosAsLong conf as a side effect."""
    try:
        spark.conf.unset(NANOS_CONF)
    except Exception:
        pass
    load_table(spark, SF_SMOKE, "events").limit(1).collect()
    assert spark.conf.get(NANOS_CONF, None) in (None, "false")


def test_unknown_table_raises(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_SMOKE, "nope")


def test_write_training_shards_round_trip(spark, tmp_path):
    """The one-call training dump: hive shard dirs, every row present
    exactly once, in-file row order == pos order (no read-time sort
    needed), and the same salt reproduces a byte-identical layout."""
    import os

    from pyspark_dist_explore_spark.operators.sampling import shuffle_shards
    from pyspark_dist_explore_spark.sources.sinks import write_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source"
    )
    out = str(tmp_path / "dump")
    write_training_shards(docs, "doc_id", out, shards=4, salt="epoch0")

    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    expected = shuffle_shards(docs, "doc_id", shards=4, salt="epoch0")
    assert sorted(map(tuple, back.select("doc_id", "shard", "pos").collect())) == \
        sorted(map(tuple, expected.select("doc_id", "shard", "pos").collect()))
    # in-file order IS pos order: read one shard dir WITHOUT sorting
    one = spark.read.parquet(out + "/shard=0").select("pos").collect()
    poses = [r.pos for r in one]
    assert poses == sorted(poses), "rows must be stored in training order"


def test_shard_manifest_verify_and_tamper(spark, tmp_path):
    """X46 integrity artifacts: the default dump records _manifest.json
    and verify_training_shards passes on the intact landing; losing a
    shard directory or double-landing rows flips exactly that shard's
    report row and strict mode raises.  The hash_sum must be
    layout-independent (sum, not order) and duplicate-sensitive."""
    import os
    import shutil

    import pytest as _pytest

    from pyspark_dist_explore_spark.sources.sinks import (
        shard_manifest,
        verify_training_shards,
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source"
    )
    out = str(tmp_path / "dump")
    write_training_shards(docs, "doc_id", out, shards=4, salt="epoch0")
    assert os.path.exists(f"{out}/_manifest.json")
    report = verify_training_shards(spark, out)
    assert report.count() == 4 and report.where("NOT ok").count() == 0
    # the hidden sidecar must not leak into the parquet read
    assert spark.read.parquet(out).count() == docs.count()

    # manifest is order-insensitive but duplicate-sensitive
    m1 = {r["shard"]: tuple(r) for r in shard_manifest(
        spark.read.parquet(out), "shard", "doc_id").collect()}
    dup = spark.read.parquet(out)
    m2 = {r["shard"]: tuple(r) for r in shard_manifest(
        dup.orderBy("doc_id"), "shard", "doc_id").collect()}
    assert m1 == m2
    md = {r["shard"]: r for r in shard_manifest(
        dup.unionAll(dup.limit(1)), "shard", "doc_id").collect()}
    changed = [s for s in md if tuple(md[s]) != m1[s]]
    assert len(changed) == 1  # the duplicated row's shard moved

    # tamper: drop one shard directory entirely
    shutil.rmtree(f"{out}/shard=2")
    with _pytest.raises(ValueError, match="shard 2"):
        verify_training_shards(spark, out)
    rep = verify_training_shards(spark, out, strict=False)
    bad = {r["shard"] for r in rep.where("NOT ok").collect()}
    assert bad == {2}

    # append mode must not write a stale manifest
    out2 = str(tmp_path / "dump2")
    write_training_shards(docs, "doc_id", out2, shards=2, salt="e0", mode="append")
    assert not os.path.exists(f"{out2}/_manifest.json")


def test_shard_manifest_composite_string_key(spark, tmp_path):
    """A multi-epoch stream shards on a composite doc_id:epoch string
    key (the r10 advisor's uniqueness catch): the manifest must
    fingerprint it via n_rows + hash_sum (try_cast NULLs the numeric
    redundancy stats instead of throwing under ANSI), the dump must be
    salt-reproducible, and verify must pass round-trip."""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.sources.sinks import (
        verify_training_shards,
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source"
    )
    # two epochs of every doc — doc_id alone is now NON-unique
    stream = docs.withColumn("epoch", F.explode(F.array(F.lit(1), F.lit(2))))
    keyed = stream.withColumn("row_key", F.concat_ws(":", "doc_id", "epoch"))
    out = str(tmp_path / "epochs")
    write_training_shards(keyed, "row_key", out, shards=4, salt="e0")
    report = verify_training_shards(spark, out)
    assert report.where("NOT ok").count() == 0
    import json

    mani = json.load(open(f"{out}/_manifest.json"))
    any_shard = next(iter(mani["manifest"].values()))
    assert any_shard["sum_id"] is None and any_shard["min_id"] is None
    assert any_shard["hash_sum"] is not None and any_shard["n_rows"] > 0
    # same salt → identical assignment even with duplicated doc_ids
    back = spark.read.parquet(out)
    out2 = str(tmp_path / "epochs2")
    write_training_shards(keyed, "row_key", out2, shards=4, salt="e0")
    a = sorted(map(tuple, back.select("row_key", "shard", "pos").collect()))
    b = sorted(
        map(
            tuple,
            spark.read.parquet(out2).select("row_key", "shard", "pos").collect(),
        )
    )
    assert a == b


def test_write_training_shards_sidecar_describes_landed_rows(spark, tmp_path):
    """The sidecar fingerprints the rows that landed even when the
    input differs on every execution: the writer and the manifest read
    one staged copy of the sharded frame, so a nondeterministic content
    column still verifies clean."""
    import uuid

    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.sources.sinks import (
        verify_training_shards,
        write_training_shards,
    )

    fresh = F.udf(lambda _: uuid.uuid4().hex, "string").asNondeterministic()
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), fresh("id").alias("payload")
    )
    out = str(tmp_path / "dump")
    write_training_shards(
        docs, "doc_id", out, shards=4, salt="e0", manifest_content_col="payload"
    )
    report = verify_training_shards(spark, out)
    assert report.count() == 4 and all(r.ok for r in report.collect())


def test_verify_training_shards_names_mismatched_stat(spark, tmp_path):
    """The strict error must say WHICH stat diverged — a content swap
    that keeps the row count must not print 'expected X rows, landed
    X' (r10 advisor catch)."""
    import pytest as _pytest

    from pyspark_dist_explore_spark.sources.sinks import write_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source"
    )
    out = str(tmp_path / "dump")
    write_training_shards(docs, "doc_id", out, shards=2, salt="e0")
    # tamper shard 0 IN PLACE: same row count, shifted ids
    from pyspark_dist_explore_spark.sources.sinks import verify_training_shards

    sh0 = spark.read.parquet(f"{out}/shard=0").selectExpr(
        "CAST(doc_id + 1000000 AS BIGINT) AS doc_id", "source", "pos"
    )
    schema, tampered = sh0.schema, sh0.collect()
    import shutil

    shutil.rmtree(f"{out}/shard=0")
    spark.createDataFrame(tampered, schema).write.parquet(f"{out}/shard=0")
    with _pytest.raises(ValueError, match="hash_sum expected"):
        verify_training_shards(spark, out)


def test_schema_cache_invalidates_on_regenerated_file(spark, tmp_path):
    """Regenerating the parquet at the SAME path must not be read with a
    stale cached schema: the cache key carries the file mtime."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "events.parquet")
    _write_events_nanos(path, [1_000, 2_000])
    assert {r["ts_ns"] for r in load_table(spark, sf_dir, "events").collect()} == {
        1_000,
        2_000,
    }
    # regenerate with different contents (and bump mtime explicitly —
    # two writes can land in the same mtime tick on coarse filesystems)
    _write_events_nanos(path, [5_000, 6_000, 7_000])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))
    got = {r["ts_ns"] for r in load_table(spark, sf_dir, "events").collect()}
    assert got == {5_000, 6_000, 7_000}


def test_cached_nanos_branch_reasserts_conf(spark, tmp_path):
    """The cached-schema events branch must re-set nanosAsLong: the conf
    is per-session and consulted at SCAN time, so a caller unsetting it
    between builds would otherwise fail the lazy read at action time."""
    sf_dir = str(tmp_path)
    _write_events_nanos(os.path.join(sf_dir, "events.parquet"), [1_000, 2_000])
    load_table(spark, sf_dir, "events").collect()  # populates the cache
    try:
        spark.conf.unset(NANOS_CONF)
    except Exception:
        pass
    # cached branch: must succeed because load_table re-asserts the conf
    assert load_table(spark, sf_dir, "events").count() == 2
    assert spark.conf.get(NANOS_CONF) == "true"


def test_embedding_dim_cached_per_mtime(spark, tmp_path):
    """embedding_dim fetches one row ONCE per (path, mtime) and serves
    later plan builds jobless; regenerating the file invalidates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_dist_explore_spark.sources.tables import embedding_dim

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "embeddings.parquet")

    def write(dim: int) -> None:
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([0, 1], pa.int64()),
                    "embedding": pa.array(
                        [[0.5] * dim, [0.25] * dim], pa.list_(pa.float32())
                    ),
                }
            ),
            path,
        )

    write(4)
    assert embedding_dim(spark, sf_dir) == 4
    assert embedding_dim(spark, sf_dir) == 4  # cached path
    write(6)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))
    assert embedding_dim(spark, sf_dir) == 6


def test_load_events_stream_matches_batch(spark, tmp_path):
    """load_events_stream (the readStream twin) must deliver the SAME
    normalized rows as load_table — including on the legacy
    TIMESTAMP(NANOS) physical schema, where the stream needs the raw
    int64 footer schema + nanosAsLong conf the batch loader cached."""
    from pyspark_dist_explore_spark.sources.tables import load_events_stream

    sf_dir = str(tmp_path)
    nanos = [-1_001, 0, 1_000, 1_700_000_000_123_456_789]
    _write_events_nanos(os.path.join(sf_dir, "events.parquet"), nanos)
    batch = {tuple(r) for r in load_table(spark, sf_dir, "events").collect()}
    stream = load_events_stream(spark, sf_dir)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_loader_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("t_stream_loader_sink").collect()}
    assert got == batch


def test_events_stream_hist_streaming_equals_batch(spark):
    """The registered events_stream_hist (real Structured Streaming:
    availableNow -> complete-mode memory sink) returns exactly the
    DuckDB batch oracle's rows."""
    from pyspark_dist_explore_spark.plans.streaming_q import (
        _STREAM_HIST_ORACLE,
        q_events_stream_hist,
    )
    from tests.oracle_utils import compare

    compare(spark, SF_SMOKE, q_events_stream_hist, _STREAM_HIST_ORACLE)


def test_neardup_snapshot_round_trip(spark, tmp_path):
    """write_neardup_snapshot lands bands (partitioned by band) + sigs +
    a params sidecar; load verifies the probing scheme and the loaded
    artifacts drive incremental_minhash_neardup to the same result as
    freshly-built frames; a scheme mismatch refuses loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_band_rows,
        minhash_signatures,
    )
    from pyspark_dist_explore_spark.sources.sinks import (
        load_neardup_snapshot,
        write_neardup_snapshot,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).where(F.col("doc_id") < 100)
    path = str(tmp_path / "snap")
    kw = dict(num_hashes=16, bands=4, shingle_n=3, hash_fn="xxhash64")
    write_neardup_snapshot(docs, "text", "doc_id", path, **kw)

    bands_df, sigs_df, params = load_neardup_snapshot(spark, path, expect=kw)
    assert params == kw
    assert set(bands_df.columns) == {"doc_id", "band", "band_hash"}

    batch = docs.limit(5).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    from_loaded = sorted(map(tuple, incremental_minhash_neardup(
        batch, bands_df, sigs_df, "text", "doc_id", threshold=0.9, **kw
    ).collect()))
    fresh_bands = minhash_band_rows(docs, "text", "doc_id", **kw)
    fresh_sigs = minhash_signatures(
        docs, "text", "doc_id", num_hashes=16, shingle_n=3, hash_fn="xxhash64"
    )
    from_fresh = sorted(map(tuple, incremental_minhash_neardup(
        batch, fresh_bands, fresh_sigs, "text", "doc_id", threshold=0.9, **kw
    ).collect()))
    assert from_loaded == from_fresh and from_loaded, "exact batch docs must flag"

    with _pytest.raises(ValueError, match="different scheme"):
        load_neardup_snapshot(spark, path, expect=dict(kw, num_hashes=32))


def test_neardup_snapshot_append_no_band_duplication(spark, tmp_path):
    """Regression (round-9 advisor): with mode='append' the band rows
    must cover only the INCOMING batch — deriving them from a read-back
    of the landed sigs table re-banded every previously-snapshotted doc,
    duplicating its band rows on each append."""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.sources.sinks import (
        load_neardup_snapshot,
        write_neardup_snapshot,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(num_hashes=16, bands=4, shingle_n=3, hash_fn="xxhash64")
    path = str(tmp_path / "snap")
    first = docs.where(F.col("doc_id") < 50)
    second = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    write_neardup_snapshot(first, "text", "doc_id", path, **kw)
    write_neardup_snapshot(second, "text", "doc_id", path, mode="append", **kw)

    bands_df, sigs_df, _ = load_neardup_snapshot(spark, path, expect=kw)
    n_docs = first.count() + second.count()
    assert sigs_df.count() == n_docs
    # exactly `bands` rows per doc, no duplicates from the append
    assert bands_df.count() == n_docs * kw["bands"]
    assert (
        bands_df.groupBy("doc_id", "band").count().where("count > 1").count() == 0
    )


def test_jsonl_round_trip(spark, tmp_path):
    """JSONL corpus interchange: write gzip'd lines, read back with an
    explicit schema — unicode text, NULL text, and nested-quote content
    survive byte-exactly; missing fields arrive NULL."""
    import json
    import gzip
    import glob

    from pyspark_dist_explore_spark.sources.sinks import read_jsonl, write_jsonl

    rows = [
        (1, 'he said "hi"\tand left', "en"),
        (2, "héllo wörld — naïve façade", "de"),
        (3, None, "es"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    path = str(tmp_path / "corpus")
    write_jsonl(df, path, partitions=1)
    back = read_jsonl(spark, path, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    # the landed artifact is real gzip'd JSONL another tool can read
    shards = glob.glob(f"{path}/part-*.json.gz")
    assert len(shards) == 1
    with gzip.open(shards[0], "rt") as fh:
        objs = [json.loads(line) for line in fh]
    assert {o["doc_id"] for o in objs} == {1, 2, 3}
    assert next(o for o in objs if o["doc_id"] == 2)["text"].startswith("héllo")

    # schema'd read of lines MISSING a field -> NULL, no inference scan
    extra = str(tmp_path / "extra.jsonl")
    with open(extra, "w") as fh:
        fh.write(json.dumps({"doc_id": 9}) + "\n")
    got = read_jsonl(spark, extra, schema=df.schema).collect()
    assert [tuple(r) for r in got] == [(9, None, None)]

# --------------------------------------------------------------------------
# X49: corpus snapshot diff (dedup.corpus_diff / sinks.corpus_diff_dirs)
# + the X46 content-fingerprint manifest extension it short-circuits on
# --------------------------------------------------------------------------


def test_corpus_diff_planted_and_twin(spark):
    """corpus_diff == the DuckDB twin on planted frames covering all
    four classes (added/removed/changed/unchanged), NULL groups folding
    to '', re-sourced docs attributed to their NEW group, and the
    SIGNED tokens_changed_delta."""
    import duckdb
    import pandas as pd

    from pyspark_dist_explore_spark.operators.dedup import (
        corpus_diff,
        corpus_diff_sql,
    )

    old_rows = [
        (1, "s0", "a b c"),
        (2, "s0", "d e"),
        (3, "s1", "f"),
        (4, None, "g h i j"),
        (5, "s1", "k"),
    ]
    new_rows = [
        (1, "s0", "a b c"),
        (2, "s0", "d e CHANGED x"),
        (4, "s2", "g h"),
        (6, "s1", "new doc"),
        (7, None, "x y"),
    ]
    old = spark.createDataFrame(old_rows, "doc_id bigint, source string, text string")
    new = spark.createDataFrame(new_rows, "doc_id bigint, source string, text string")
    got = sorted(map(tuple, corpus_diff(old, new, group_col="source").collect()))
    con = duckdb.connect()
    con.register("o", pd.DataFrame(old_rows, columns=["doc_id", "source", "text"]))
    con.register("n", pd.DataFrame(new_rows, columns=["doc_id", "source", "text"]))
    want = sorted(
        map(
            tuple,
            con.execute(
                corpus_diff_sql(
                    "SELECT doc_id, source, text FROM o",
                    "SELECT doc_id, source, text FROM n",
                    group_col="source",
                )
            ).fetchall(),
        )
    )
    con.close()
    assert got == want
    by = {r[0]: r for r in got}
    # doc 4 re-sourced ''->s2 with 4->2 tokens: changed under s2, delta -2
    assert by["s2"][3] == 1 and by["s2"][7] == -2
    # s1 lost docs 3+5 (2 removed), gained doc 6 (1 added)
    assert by["s1"][1] == 1 and by["s1"][2] == 2
    # identities: per group, n_old = removed+changed+unchanged
    cols = ["group", "n_added", "n_removed", "n_changed", "n_unchanged",
            "tokens_added", "tokens_removed", "tokens_changed_delta",
            "n_old", "n_new", "tokens_old", "tokens_new"]
    for r in got:
        d = dict(zip(cols, r))
        assert d["n_old"] == d["n_removed"] + d["n_changed"] + d["n_unchanged"]
        assert d["n_new"] == d["n_added"] + d["n_changed"] + d["n_unchanged"]


def test_corpus_diff_one_scan_per_side_plan(spark, tmp_path):
    """X49's scale contract: each snapshot is scanned ONCE (two parquet
    scans total), one equi-join, no Python, no cartesian."""
    from pyspark_dist_explore_spark.operators.dedup import corpus_diff

    po, pn = str(tmp_path / "old"), str(tmp_path / "new")
    spark.range(50).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source",
        "concat('w', id, ' w', id+1) AS text",
    ).write.parquet(po)
    spark.range(40).selectExpr(
        "id + 5 AS doc_id", "concat('s', id % 3) AS source",
        "concat('w', id+5, ' w', id+6) AS text",
    ).write.parquet(pn)
    df = corpus_diff(
        spark.read.parquet(po), spark.read.parquet(pn), group_col="source"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert df.count() > 0


def test_shard_manifest_content_sum_round_trip_and_tamper(spark, tmp_path):
    """The X46 content-fingerprint extension: manifest_content_col adds
    content_sum to the sidecar, verify passes on the intact dump, and a
    content-only mutation (ids unchanged!) is caught BY content_sum."""
    import pytest

    from pyspark_dist_explore_spark.sources.sinks import (
        verify_training_shards,
        write_training_shards,
    )

    df = spark.range(60).selectExpr(
        "id AS doc_id", "concat('payload ', id) AS text"
    )
    path = str(tmp_path / "dump_content")
    write_training_shards(
        df, "doc_id", path, shards=3, manifest_content_col="text"
    )
    assert all(r.ok for r in verify_training_shards(spark, path).collect())
    # rewrite shard files with SAME ids but mutated text: every id stat
    # still matches — only content_sum can catch this
    landed = spark.read.parquet(path)
    mutated = landed.withColumn("text", F.concat(F.col("text"), F.lit("!")))
    mutated.repartition(3, F.col("shard")).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(str(tmp_path / "dump_mut"))
    import shutil

    for child in (tmp_path / "dump_mut").iterdir():
        if child.name.startswith("shard="):
            shutil.rmtree(str(tmp_path / "dump_content" / child.name))
            shutil.move(str(child), str(tmp_path / "dump_content" / child.name))
    with pytest.raises(ValueError, match="content_sum"):
        verify_training_shards(spark, path)


def test_corpus_diff_dirs_manifest_short_circuit(spark, tmp_path):
    """Equal CONTENT-fingerprinting manifests short-circuit to the
    all-unchanged card without scanning; equal ID-ONLY manifests do NOT
    short-circuit (a re-crawled doc keeps its id — the scan must run
    and report the change); differing manifests fall through to the
    real diff."""
    from pyspark_dist_explore_spark.sources.sinks import (
        corpus_diff_dirs,
        write_training_shards,
    )

    df = spark.range(40).selectExpr(
        "id AS doc_id", "concat('t ', id) AS text"
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (pa, pb):
        write_training_shards(
            df, "doc_id", p, shards=2, manifest_content_col="text"
        )
    card = corpus_diff_dirs(spark, pa, pb).collect()
    assert len(card) == 1
    r = card[0]
    assert (r["group"], r["n_added"], r["n_removed"], r["n_changed"]) == ("", 0, 0, 0)
    assert r["n_unchanged"] == 40 and r["tokens_old"] is None
    # the short-circuit really skipped the scan: nuke the data files,
    # keep the sidecars — the card still comes back
    import shutil

    for p in (pa, pb):
        for child in list((tmp_path / ("a" if p == pa else "b")).iterdir()):
            if child.name.startswith("shard="):
                shutil.rmtree(str(child))
    assert corpus_diff_dirs(spark, pa, pb).collect()[0]["n_unchanged"] == 40

    # ID-ONLY manifests: same ids, changed content -> must NOT short-circuit
    pc, pd_ = str(tmp_path / "c"), str(tmp_path / "d")
    write_training_shards(df, "doc_id", pc, shards=2)
    df2 = spark.range(40).selectExpr(
        "id AS doc_id",
        "CASE WHEN id = 7 THEN 'mutated row' ELSE concat('t ', id) END AS text",
    )
    write_training_shards(df2, "doc_id", pd_, shards=2)
    full = {r["group"]: r for r in corpus_diff_dirs(spark, pc, pd_).collect()}
    assert sum(r["n_changed"] for r in full.values()) == 1
    assert sum(r["n_unchanged"] for r in full.values()) == 39



def test_pq_index_round_trip(spark, tmp_path):
    """write_pq_index lands centroids + codebooks + codes + inverted
    lists (partitioned by cent_id) + a params sidecar; ivf_pq_topk over
    the LOADED artifacts with vectors=None equals the in-memory
    composition bit for bit; a scheme mismatch refuses loudly; serving
    without the full artifact set refuses loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators import similarity
    from pyspark_dist_explore_spark.sources.sinks import (
        load_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "pqidx")
    kw = dict(m=8, dim=64, n_codes=16, n_centroids=8, n_assign=2)
    write_pq_index(emb, path, **kw)

    cents, cb, codes, assign, params = load_pq_index(spark, path, expect=kw)
    assert params["fit"] == "sample" and params["m"] == 8
    assert set(assign.columns) == {"vec_id", "cent_id"}
    # the inverted lists are partitioned by cent_id (directory pruning)
    import os

    assert any(
        d.startswith("cent_id=") for d in os.listdir(f"{path}/assign")
    ), "assign/ must be partitioned by cent_id"
    # n_assign=2 replication: index rows == 2 x corpus rows
    n_corpus = emb.count()
    assert assign.count() == 2 * n_corpus

    serve_kw = dict(k=5, m=8, dim=64, n_codes=16, n_centroids=8, n_probe=3,
                    n_assign=2)
    from_loaded = sorted(map(tuple, similarity.ivf_pq_topk(
        None, q, centroids=cents, codebooks=cb, codes=codes,
        assignments=assign, **serve_kw,
    ).collect()))
    from_memory = sorted(map(tuple, similarity.ivf_pq_topk(
        emb, q, **serve_kw,
    ).collect()))
    assert from_loaded == from_memory and from_loaded

    with _pytest.raises(ValueError, match="different scheme"):
        load_pq_index(spark, path, expect=dict(m=4))
    with _pytest.raises(ValueError, match="full landed index"):
        similarity.ivf_pq_topk(
            None, q, centroids=cents, codebooks=cb, codes=codes, **serve_kw
        )


def test_pq_index_rotation_salt_round_trip(spark, tmp_path):
    """rotation_salt: the landed index is built in rotated space, the
    salt rides the sidecar, and serving loaded artifacts with
    identically-rotated queries equals the in-memory rotated
    composition bit for bit — which (signed permutations preserve every
    dot exactly) ranks identically to the unrotated exact path."""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators import similarity
    from pyspark_dist_explore_spark.sources.sinks import (
        load_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "pqrotidx")
    kw = dict(m=8, dim=64, n_codes=16, n_centroids=8)
    write_pq_index(emb, path, rotation_salt="srv", **kw)
    cents, cb, codes, assign, params = load_pq_index(
        spark, path, expect=dict(rotation_salt="srv")
    )
    assert params["rotation_salt"] == "srv"
    q_rot = similarity.rotate_embeddings(q, dim=64, salt=params["rotation_salt"])
    serve_kw = dict(k=5, m=8, dim=64, n_codes=16, n_centroids=8, n_probe=3)
    from_loaded = sorted(map(tuple, similarity.ivf_pq_topk(
        None, q_rot, centroids=cents, codebooks=cb, codes=codes,
        assignments=assign, **serve_kw,
    ).collect()))
    emb_rot = similarity.rotate_embeddings(emb, dim=64, salt="srv")
    from_memory = sorted(map(tuple, similarity.ivf_pq_topk(
        emb_rot, q_rot,
        centroids=emb_rot.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cent_id"),
            similarity._unit(F.col("embedding")).alias("cv"),
        ),
        **serve_kw,
    ).collect()))
    assert from_loaded == from_memory and from_loaded


# --------------------------------------------------------------------------
# X71: WebDataset-style tar shard sink / source
# --------------------------------------------------------------------------


def _tar_docs(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .where(F.col("doc_id") < 120)
        .select(
            "doc_id", "source", "text",
            F.encode(F.reverse("text"), "utf-8").alias("blob"),
        )
    )


def test_write_tar_shards_deterministic_round_trip(spark, tmp_path):
    """X71: two writes of the same frame are BYTE-identical tars; the
    reader recovers every member's content, sample key, and training
    position; the manifest counts add up; the sidecar guard refuses a
    mismatched scheme."""
    from pyspark_dist_explore_spark.sources import sinks

    docs = _tar_docs(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    members = {"txt": "text", "src": "source", "bin": "blob"}
    man_a = sorted(
        (r["shard"], r["n_samples"], r["n_bytes"], r["tar_md5"])
        for r in sinks.write_tar_shards(
            docs, a, shards=4, members=members, salt="e0"
        ).collect()
    )
    man_b = sorted(
        (r["shard"], r["n_samples"], r["n_bytes"], r["tar_md5"])
        for r in sinks.write_tar_shards(
            docs, b, shards=4, members=members, salt="e0"
        ).collect()
    )
    assert man_a == man_b and len(man_a) == 4
    assert sum(r[1] for r in man_a) == 120
    fa = sorted(p for p in os.listdir(a) if p.endswith(".tar"))
    assert fa == [f"shard-{i:06d}.tar" for i in range(4)]
    for f in fa:
        with open(os.path.join(a, f), "rb") as fh_a, open(
            os.path.join(b, f), "rb"
        ) as fh_b:
            assert fh_a.read() == fh_b.read()

    back = sinks.read_tar_shards(spark, a, expect={"salt": "e0", "shards": 4})
    rows = back.collect()
    assert len(rows) == 3 * 120
    orig_txt = {str(r["doc_id"]): r["text"] for r in docs.collect()}
    got_txt = {
        r["key"]: r["payload"].decode("utf-8")
        for r in rows
        if r["ext"] == "txt"
    }
    assert got_txt == orig_txt
    orig_blob = {str(r["doc_id"]): bytes(r["blob"]) for r in docs.collect()}
    got_blob = {
        r["key"]: bytes(r["payload"]) for r in rows if r["ext"] == "bin"
    }
    assert got_blob == orig_blob
    # training order: pos values within a shard are the shuffle_shards
    # positions — strictly increasing in tar member order
    by_shard: dict = {}
    for r in rows:
        if r["ext"] == "txt":
            by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert poss == sorted(poss)

    with pytest.raises(ValueError, match="different scheme"):
        sinks.read_tar_shards(spark, a, expect={"salt": "other"})


def test_tar_shards_verify_detects_tamper_and_guards(spark, tmp_path):
    """X71: verify_tar_shards is green on an intact dump, names the
    flipped shard after a byte tamper; writer guards reject bad member
    specs."""
    from pyspark_dist_explore_spark.sources import sinks

    docs = _tar_docs(spark)
    out = str(tmp_path / "dump")
    sinks.write_tar_shards(
        docs, out, shards=3, members={"txt": "text"}, salt="e1"
    )
    ver = sinks.verify_tar_shards(spark, out).collect()
    assert len(ver) == 3 and all(r["ok"] for r in ver)
    with open(os.path.join(out, "shard-000001.tar"), "r+b") as f:
        f.seek(700)
        f.write(b"X")
    ver2 = {r["shard"]: r["ok"] for r in sinks.verify_tar_shards(spark, out).collect()}
    assert ver2[1] is False and sum(1 for v in ver2.values() if v) == 2

    with pytest.raises(ValueError, match="at least one"):
        sinks.write_tar_shards(docs, out, shards=2, members={})
    with pytest.raises(ValueError, match="not in frame"):
        sinks.write_tar_shards(docs, out, shards=2, members={"txt": "nope"})
    with pytest.raises(ValueError, match="string or binary"):
        sinks.write_tar_shards(docs, out, shards=2, members={"txt": "doc_id"})
    with pytest.raises(ValueError, match="may not contain"):
        sinks.write_tar_shards(docs, out, shards=2, members={"a.b": "text"})


def test_pq_index_residual_round_trip(spark, tmp_path):
    """X69 landed form: write_pq_index(residual=True) lands the
    residual enc as ONE cent_id-partitioned artifact (code table ==
    inverted lists, no assign/ directory); ivf_pq_residual_topk over
    the LOADED artifacts with vectors=None equals the in-memory
    composition bit for bit; the sidecar flag separates the two index
    kinds loudly; assign_round is refused in residual mode."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators import similarity
    from pyspark_dist_explore_spark.sources.sinks import (
        load_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "pqres")
    kw = dict(m=8, dim=64, n_codes=16, n_centroids=8, residual=True)
    write_pq_index(emb, path, **kw)

    cents, cb, codes, assign, params = load_pq_index(spark, path, expect=kw)
    assert params["residual"] is True
    assert not os.path.exists(f"{path}/assign"), (
        "residual index must not land a separate assign artifact"
    )
    assert any(d.startswith("cent_id=") for d in os.listdir(f"{path}/codes"))
    assert set(codes.columns) == {"vec_id", "codes", "cent_id"}
    assert assign.count() == emb.count()

    serve_kw = dict(k=5, m=8, dim=64, n_codes=16, n_centroids=8, n_probe=4)
    from_loaded = sorted(
        (r["query_id"], r["rank"], r["vec_id"], int(r["score"]))
        for r in similarity.ivf_pq_residual_topk(
            None, q, centroids=cents, codebooks=cb, enc=codes, **serve_kw
        ).collect()
    )
    from_memory = sorted(
        (r["query_id"], r["rank"], r["vec_id"], int(r["score"]))
        for r in similarity.ivf_pq_residual_topk(emb, q, **serve_kw).collect()
    )
    assert from_loaded == from_memory and len(from_loaded) == 15

    # a raw-space server must not silently consume a residual index
    with _pytest.raises(ValueError, match="different scheme"):
        load_pq_index(spark, path, expect=dict(residual=False))
    with _pytest.raises(ValueError, match="assign_round"):
        write_pq_index(
            emb, str(tmp_path / "bad"), m=8, dim=64,
            residual=True, assign_round=6,
        )
