"""Structured Streaming execution tests (X2/X8): real micro-batches via
the file source + memory sink, watermark-driven window finalization,
late-data drop, and streaming dedup state bounding."""

from __future__ import annotations

import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyspark_dist_explore_spark.streaming.histogram_stream import (
    stream_dedup,
    stream_windowed_histogram,
)

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def _write_batch(spark, path, rows, n):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _ts(minute, second=0):
    return datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "stream")


def test_windowed_histogram_stream_late_data(spark, stream_dir, tmp_path):
    """Append mode + watermark: windows emit once finalized; a row later
    than the watermark is dropped, not re-opened."""
    batch1 = [
        (1, _ts(0), 10.0),   # window 10:00
        (2, _ts(5), 20.0),   # window 10:00
        (3, _ts(12), 30.0),  # window 10:10
    ]
    _write_batch(spark, stream_dir, batch1, 1)

    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    hist = stream_windowed_histogram(
        stream,
        window_duration="10 minutes",
        bins=5,
        range=(0.0, 50.0),
        watermark="5 minutes",
    )
    query = (
        hist.writeStream.format("memory")
        .queryName("hist_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        # watermark after batch1 = 10:12 - 5min = 10:07 → no window closed yet.
        # batch2 pushes the watermark to 10:20 (> window end 10:10), closing
        # and emitting the 10:00 window.
        _write_batch(spark, stream_dir, [(4, _ts(25), 40.0)], 2)
        query.processAllAvailable()
        # batch3: a row for the CLOSED 10:00 window — watermark (10:20) is
        # past the window end, so it must be dropped, not re-emitted.
        _write_batch(spark, stream_dir, [(5, _ts(1, 30), 11.0)], 3)
        query.processAllAvailable()
        # one more batch so any (incorrect) re-emission would be flushed
        _write_batch(spark, stream_dir, [(6, _ts(40), 49.0)], 4)
        query.processAllAvailable()
        out = {
            (r["window_start"].minute, r["bucket"]): r["cnt"]
            for r in spark.table("hist_sink").collect()
        }
        # 10:00 window finalized from batch1 only: values 10.0→bucket 1, 20.0→bucket 2
        assert out.get((0, 1)) == 1
        assert out.get((0, 2)) == 1
        # the late 11.0 row (bucket 1, window 10:00) must NOT appear again
        assert sum(1 for (m, b) in out if m == 0 and b == 1) == 1
        # 10:10 window: 30.0 → bucket 3
        assert out.get((10, 3)) == 1
    finally:
        query.stop()


def test_stream_dedup_within_watermark(spark, stream_dir):
    rows = [
        (1, _ts(0), 10.0),
        (1, _ts(1), 10.0),  # dup key within watermark → dropped
        (2, _ts(2), 20.0),
    ]
    _write_batch(spark, stream_dir, rows, 1)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    deduped = stream_dedup(stream, ["event_id"], watermark="10 minutes")
    query = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        got = sorted(r["event_id"] for r in spark.table("dedup_sink").collect())
        assert got == [1, 2]
    finally:
        query.stop()


def test_session_window_streaming_primitive(spark, stream_dir):
    """Native session_window on a stream (keyed — global session agg is
    unsupported): two bursts 40 min apart with a 15-min gap form two
    sessions for user 1.0 (the ``value`` column doubles as the user key)."""
    rows = [
        (1, _ts(0), 1.0),
        (2, _ts(5), 1.0),
        (3, _ts(45), 1.0),
        (4, _ts(46), 1.0),
        (5, _ts(59), 99.0),  # watermark pusher (its own session/user)
    ]
    _write_batch(spark, stream_dir, rows, 1)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    # NB: do NOT filter on the grouping column here — Catalyst pushes the
    # predicate below the session aggregation, which starves the stateful
    # operator of the watermark-pushing rows and stalls eviction.
    sessions = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "15 minutes").alias("w"), F.col("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "value", "n")
    )
    query = (
        sessions.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        # push the watermark past the second session's end (10:46 + 15min)
        _write_batch(spark, stream_dir, [(6, datetime(2024, 1, 1, 11, 10), 99.0)], 2)
        query.processAllAvailable()
        # watermark advances at batch end; one more batch evicts + emits
        _write_batch(spark, stream_dir, [(7, datetime(2024, 1, 1, 11, 20), 99.0)], 3)
        query.processAllAvailable()
        got = {
            r["start"].minute: r["n"]
            for r in spark.table("sess_sink").collect()
            if r["value"] == 1.0
        }
        assert got.get(0) == 2   # burst at 10:00–10:05
        assert got.get(45) == 2  # burst at 10:45–10:46
    finally:
        query.stop()


def test_streaming_parquet_sink_with_checkpoint(spark, stream_dir, tmp_path):
    """Durable streaming: file sink + checkpoint; output equals the batch
    run of the same plan."""
    rows = [(i, _ts(i), float(i * 10)) for i in range(6)]
    _write_batch(spark, stream_dir, rows, 1)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    hist = stream_windowed_histogram(
        stream, window_duration="2 minutes", bins=4, range=(0.0, 60.0), watermark="1 minute"
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        hist.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode: only watermark-closed windows are in the sink
    got = {
        (r["window_start"].minute, r["bucket"]): r["cnt"]
        for r in spark.read.parquet(out_dir).collect()
    }
    batch_df = spark.createDataFrame(rows, SCHEMA)
    batch = {
        (r["window_start"].minute, r["bucket"]): r["cnt"]
        for r in stream_windowed_histogram(
            batch_df, window_duration="2 minutes", bins=4, range=(0.0, 60.0)
        ).collect()
    }
    for k, v in got.items():
        assert batch[k] == v  # everything emitted matches the batch truth


def test_apply_in_pandas_with_state_running_stats(spark, stream_dir):
    """Custom stateful operator: per-key running stats accumulate ACROSS
    micro-batches (state survives), emitted in update mode."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_running_stats,
    )

    _write_batch(spark, stream_dir, [(1, _ts(0), 10.0), (1, _ts(1), 20.0), (2, _ts(2), 5.0)], 1)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    stats = stream_running_stats(
        stream, key_col="event_id", value_col="value", watermark="10 minutes"
    )
    q = (
        stats.writeStream.format("memory")
        .queryName("state_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: key 1 gets one more value — state must carry over
        _write_batch(spark, stream_dir, [(1, _ts(5), 30.0)], 2)
        q.processAllAvailable()
        rows = spark.table("state_sink").collect()
        # update mode appends one emission per key per batch; the running
        # count only grows, so max-n per key IS the latest state
        latest = {}
        for r in rows:
            if r["key"] not in latest or r["n"] > latest[r["key"]][0]:
                latest[r["key"]] = (r["n"], r["total"], r["vmax"])
        assert latest[1] == (3, 60.0, 30.0)  # 10+20 from batch1, +30 from batch2
        assert latest[2] == (1, 5.0, 5.0)
    finally:
        q.stop()


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static enrichment: every micro-batch joins against the
    static dim with no state and no watermark; left join keeps stream
    rows whose key the dim lacks; the broadcast hint lands in the plan."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import stream_enrich

    ev_dir = str(tmp_path / "ev")
    _write_batch(spark, ev_dir, [(1, _ts(0), 10.0), (2, _ts(1), 20.0), (9, _ts(2), 30.0)], 1)
    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], ["event_id", "tier"])

    stream = spark.readStream.schema(SCHEMA).parquet(ev_dir)
    enriched = stream_enrich(stream, dim, "event_id")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["event_id"]: r["tier"] for r in spark.table("enrich_sink").collect()
        }
    finally:
        q.stop()
    assert got == {1: "gold", 2: "basic", 9: None}

    # batch twin + plan: the dim side must arrive broadcast
    import contextlib
    import io

    batch = stream_enrich(spark.read.schema(SCHEMA).parquet(ev_dir), dim, "event_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        batch.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join: a click attributes to an
    impression only within the interval; out-of-interval and unmatched
    rows never emit; the batch twin returns the identical pair set."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_interval_join,
    )

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    imps = [
        (1, _ts(0), 0.0),   # user 1 impression 10:00
        (2, _ts(0), 0.0),   # user 2 impression 10:00
        (3, _ts(5), 0.0),   # user 3 impression 10:05, never clicks
    ]
    clks = [
        (1, _ts(10), 1.0),  # 10 min later → attributed
        (2, _ts(45), 1.0),  # 45 min later → outside 30-min interval
        (4, _ts(1), 1.0),   # click with no impression
    ]
    _write_batch(spark, imp_dir, imps, 1)
    _write_batch(spark, clk_dir, clks, 1)

    imp_s = spark.readStream.schema(SCHEMA).parquet(imp_dir)
    clk_s = spark.readStream.schema(SCHEMA).parquet(clk_dir)
    joined = stream_interval_join(
        imp_s, clk_s, "event_id", within="30 minutes", watermark="10 minutes"
    )
    assert "ts_r" in joined.columns
    query = (
        joined.writeStream.format("memory")
        .queryName("attr_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        got = [(r["event_id"], r["ts"], r["ts_r"]) for r in spark.table("attr_sink").collect()]
    finally:
        query.stop()
    assert got == [(1, _ts(0), _ts(10))]

    # batch twin: same operator, same pair set
    imp_b = spark.read.schema(SCHEMA).parquet(imp_dir)
    clk_b = spark.read.schema(SCHEMA).parquet(clk_dir)
    batch = stream_interval_join(imp_b, clk_b, "event_id", within="30 minutes")
    assert [(r["event_id"], r["ts"], r["ts_r"]) for r in batch.collect()] == got


def test_interval_join_batch_twin_vs_duckdb(spark):
    """The interval join's BATCH twin hash-matches a DuckDB oracle on the
    real events table: click events attribute to the view events of the
    same user within 30 minutes after the view."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_interval_join,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare

    def build(spark, sf_dir):
        from pyspark_dist_explore_spark.sources.tables import load_table

        ev = load_table(spark, sf_dir, "events")
        views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        j = stream_interval_join(views, clicks, "user_id", within="30 minutes")
        return j.select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("event_id_r").alias("click_id"),
        )

    oracle = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
"""
    compare(spark, SF_SMOKE, build, oracle)


def test_interval_join_state_plateaus_under_watermark(spark, tmp_path):
    """The bounded-state claim, measured: feed the interval join a long
    stream of time-advancing micro-batches and read
    ``stateOperators[].numRowsTotal`` from StreamingQueryProgress after
    each — once the watermark is moving, total state must PLATEAU at a
    few batches' worth of rows instead of accumulating the whole
    history (watermark 10 min + within 30 min ⇒ state window ≈ 40 min;
    batches arrive 60 min apart, so each batch's state is evictable by
    the next)."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_interval_join,
    )

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    per_batch = 4

    def batch_rows(b):
        base = datetime(2024, 1, 1, b, 0)  # one hour apart
        return [(b * 100 + i, base, 0.0) for i in range(per_batch)]

    _write_batch(spark, imp_dir, batch_rows(0), 1)
    _write_batch(spark, clk_dir, batch_rows(0), 1)
    imp_s = spark.readStream.schema(SCHEMA).parquet(imp_dir)
    clk_s = spark.readStream.schema(SCHEMA).parquet(clk_dir)
    joined = stream_interval_join(
        imp_s, clk_s, "event_id", within="30 minutes", watermark="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("state_plateau_sink")
        .outputMode("append")
        .start()
    )
    totals = []
    try:
        q.processAllAvailable()
        for b in range(1, 8):
            _write_batch(spark, imp_dir, batch_rows(b), b + 1)
            _write_batch(spark, clk_dir, batch_rows(b), b + 1)
            q.processAllAvailable()
            prog = q.lastProgress
            if prog and prog["stateOperators"]:
                totals.append(prog["stateOperators"][0]["numRowsTotal"])
    finally:
        q.stop()
    assert len(totals) >= 5
    ingested = 8 * 2 * per_batch
    # plateau: bounded by a few batches of rows, nowhere near the full
    # history, and the tail is not larger than the early steady state
    assert totals[-1] <= 4 * 2 * per_batch, totals
    assert totals[-1] < ingested / 2, totals
    assert max(totals[-2:]) <= max(totals[1:4]) + 2 * per_batch, totals


def test_stream_drift_scores_end_to_end(spark, stream_dir):
    """The streaming composition: windowed histogram stream (memory
    sink, watermark-finalized) -> per-window PSI vs a static reference.
    A window matching the reference distribution scores ~0; a window
    concentrated in one bucket scores high."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_drift_scores,
    )

    # reference profile: uniform across buckets 0..4 (range 0-50, 5 bins)
    ref = spark.createDataFrame(
        [(b, 20) for b in range(5)], "bucket int, cnt bigint"
    )
    # window 10:00 mirrors the reference (one event per bucket);
    # window 10:10 is all one bucket (max drift)
    batch = [
        (i, _ts(0, i), float(5 + 10 * i)) for i in range(5)
    ] + [
        (10 + i, _ts(12, i), 7.0) for i in range(8)
    ]
    _write_batch(spark, stream_dir, batch, 1)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    hist = stream_windowed_histogram(
        stream,
        window_duration="10 minutes",
        bins=5,
        range=(0.0, 50.0),
        watermark="5 minutes",
    )
    query = (
        hist.writeStream.format("memory")
        .queryName("drift_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        # push the watermark past both windows so they finalize
        _write_batch(spark, stream_dir, [(99, _ts(40), 25.0)], 2)
        query.processAllAvailable()
        scores = {
            r.window_start.minute: r
            for r in stream_drift_scores(spark.table("drift_sink"), ref).collect()
        }
    finally:
        query.stop()
    assert scores[0].n_events == 5
    assert abs(scores[0].psi) < 1e-9, "uniform window matches the uniform reference"
    assert scores[10].n_events == 8
    assert scores[10].psi > 0.25, f"one-bucket window must flag drift: {scores[10].psi}"


def test_stream_drift_scores_exact_vs_bruteforce(spark):
    """The constant-plus-correction PSI factoring (one pass over the
    windowed histogram, no window×reference replication) must equal the
    direct per-(window, bucket-union) sum exactly — mirror window,
    skewed window with a bucket the reference lacks, and a window
    missing most reference buckets."""
    import collections
    import math

    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_drift_scores,
    )

    eps = 1e-6
    ref_rows = [(0, 10), (1, 30), (2, 60)]
    win_rows = [
        ("A", 0, 1), ("A", 1, 3), ("A", 2, 6),   # mirrors the reference
        ("B", 0, 5), ("B", 5, 5),                # skew + novel bucket 5
        ("C", 2, 7),                             # most ref buckets absent
    ]
    ref = spark.createDataFrame(ref_rows, "bucket int, cnt bigint")
    win = spark.createDataFrame(
        [(w, w, b, c) for w, b, c in win_rows],
        "window_start string, window_end string, bucket int, cnt bigint",
    )
    got = {r.window_start: (r.n_events, r.psi)
           for r in stream_drift_scores(win, ref).collect()}

    refd = dict(ref_rows)
    tr = sum(refd.values())
    wins = collections.defaultdict(dict)
    for w, b, c in win_rows:
        wins[w][b] = c
    for w, d in wins.items():
        tw = sum(d.values())
        psi = 0.0
        for b in set(refd) | set(d):
            p = max(refd.get(b, 0) / tr, eps)
            q = max(d.get(b, 0) / tw, eps)
            psi += (q - p) * math.log(q / p)
        assert got[w][0] == tw
        assert abs(got[w][1] - psi) < 5e-10, (w, got[w][1], psi)
    assert got["A"][1] == 0.0


def test_stream_drift_single_input_reference(spark):
    """The windowed-histogram input must appear exactly ONCE in the
    physical plan — the old shape replicated the reference under a
    window list derived from a second reference to the input."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_drift_scores,
    )

    ref = spark.range(10).select(
        F.col("id").cast("int").alias("bucket"), F.lit(10).alias("cnt")
    )
    win = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("window_start"),
        (F.col("id") % 4).cast("string").alias("window_end"),
        (F.col("id") % 10).cast("int").alias("bucket"),
        F.lit(5).alias("cnt"),
    )
    out = stream_drift_scores(win, ref)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the win side ranges over 100 rows, the ref side over 10 — count
    # detail-section argument lines carrying the win-side range
    win_ranges = [
        l for l in plan.splitlines()
        if "Arguments: Range (0, 100" in l
    ]
    assert len(win_ranges) == 1, plan


def test_stream_drift_empty_reference_is_finite(spark):
    """An EMPTY reference histogram must yield finite (large) psi — the
    factored constant coalesces to 0 and every p clamps to eps — not
    NULL rows that silently disable downstream alerts."""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_drift_scores,
    )

    ref = spark.createDataFrame([], "bucket int, cnt bigint")
    win = spark.createDataFrame(
        [("w", "w", i, 10) for i in range(5)],
        "window_start string, window_end string, bucket int, cnt bigint",
    )
    row = stream_drift_scores(win, ref).first()
    assert row.psi is not None
    assert row.psi == row.psi and row.psi != float("inf")
    assert row.psi > 0.25, f"no reference mass = maximal drift, got {row.psi}"


def test_stream_drift_out_of_order_and_late_replay(spark, stream_dir):
    """Round-7 advice item: the in-order drift test left two watermark
    edges unpinned.  (1) An OUT-OF-ORDER event that is still above the
    watermark must be counted into its window before finalization; (2) a
    LATE event below the watermark must be dropped — it must neither
    re-emit the finalized window row nor perturb the PSI score computed
    from the sink."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_drift_scores,
    )

    ref = spark.createDataFrame([(b, 20) for b in range(5)], "bucket int, cnt bigint")
    # batch1: uniform window 10:00 (5 events, one per bucket) + a 10:12
    # event whose only job is to move the watermark to 10:07
    batch1 = [(i, _ts(0, i), float(5 + 10 * i)) for i in range(5)] + [
        (9, _ts(12), 25.0)
    ]
    _write_batch(spark, stream_dir, batch1, 1)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    hist = stream_windowed_histogram(
        stream,
        window_duration="10 minutes",
        bins=5,
        range=(0.0, 50.0),
        watermark="5 minutes",
    )
    query = (
        hist.writeStream.format("memory")
        .queryName("drift_replay_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        # batch2: OUT-OF-ORDER but above the 10:07 watermark — 10:09:30
        # lands back in the still-open 10:00 window and must be counted
        _write_batch(spark, stream_dir, [(20, _ts(9, 30), 7.0)], 2)
        query.processAllAvailable()
        # batch3: advance the watermark to 10:35 → both windows finalize
        _write_batch(spark, stream_dir, [(30, _ts(40), 25.0)], 3)
        query.processAllAvailable()
        # batch4: LATE replay — 10:05 is far below the 10:35 watermark;
        # it must be dropped entirely (a re-emission would append a
        # duplicate (window, bucket) row to the sink)
        _write_batch(spark, stream_dir, [(40, _ts(5), 7.0)], 4)
        # batch5: flush so any (incorrect) re-emission materializes
        _write_batch(spark, stream_dir, [(50, _ts(55), 25.0)], 5)
        query.processAllAvailable()
        sink = spark.table("drift_replay_sink")
        rows0 = [r for r in sink.collect() if r["window_start"].minute == 0]
        # exactly one row per bucket for the finalized 10:00 window —
        # no late re-emission
        assert len(rows0) == len({r["bucket"] for r in rows0}), rows0
        scores = {
            r.window_start.minute: r
            for r in stream_drift_scores(sink, ref).collect()
        }
    finally:
        query.stop()
    # 5 uniform + 1 out-of-order (counted) — the late replay did NOT add
    assert scores[0].n_events == 6, scores[0]
    # bucket 0 now holds 2/6 instead of the reference's 1/5 → small
    # nonzero drift; the exact value is pinned by the brute-force twin
    # test, here we pin the inclusion/exclusion semantics
    assert scores[0].psi > 0.0
    assert scores[0].psi < 0.25, "one extra in-watermark event is not max drift"


def test_interval_join_state_plateaus_at_10x_rate(spark, tmp_path):
    """Round-7 advice item: the state plateau measured again at 10× the
    event rate (40 rows/side/batch vs 4).  The plateau must scale with
    the RATE (state window ≈ 40 min of events), stay far below the full
    history, and not trend upward at the tail — the bounded-state claim
    holds under load, not just at toy rates."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_interval_join,
    )

    imp_dir, clk_dir = str(tmp_path / "imp10"), str(tmp_path / "clk10")
    per_batch = 40

    def batch_rows(b):
        base = datetime(2024, 1, 1, b, 0)  # one hour apart
        return [(b * 1000 + i, base, 0.0) for i in range(per_batch)]

    _write_batch(spark, imp_dir, batch_rows(0), 1)
    _write_batch(spark, clk_dir, batch_rows(0), 1)
    imp_s = spark.readStream.schema(SCHEMA).parquet(imp_dir)
    clk_s = spark.readStream.schema(SCHEMA).parquet(clk_dir)
    joined = stream_interval_join(
        imp_s, clk_s, "event_id", within="30 minutes", watermark="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("state_plateau_10x_sink")
        .outputMode("append")
        .start()
    )
    totals = []
    try:
        q.processAllAvailable()
        for b in range(1, 8):
            _write_batch(spark, imp_dir, batch_rows(b), b + 1)
            _write_batch(spark, clk_dir, batch_rows(b), b + 1)
            q.processAllAvailable()
            prog = q.lastProgress
            if prog and prog["stateOperators"]:
                totals.append(prog["stateOperators"][0]["numRowsTotal"])
    finally:
        q.stop()
    assert len(totals) >= 5
    ingested = 8 * 2 * per_batch
    assert totals[-1] <= 4 * 2 * per_batch, totals
    assert totals[-1] < ingested / 2, totals
    assert max(totals[-2:]) <= max(totals[1:4]) + 2 * per_batch, totals


def test_events_session_window_streaming_equals_batch(spark):
    """The registered events_session_window (real streaming
    session_window: merging state store, complete mode, availableNow)
    returns exactly the DuckDB gaps-and-islands oracle's rows — including
    tie semantics: an event exactly gap seconds after the last MERGES
    (engine-measured; `>` in the oracle gap test, not `>=`)."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_dist_explore_spark.plans.streaming_q import (
        _SESSION_GAP_S,
        _SESSION_ORACLE,
        q_events_session_window,
    )
    from pyspark_dist_explore_spark.sources.tables import TABLES
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare

    compare(spark, SF_SMOKE, q_events_session_window, _SESSION_ORACLE)

    # tie pin on a planted corpus: events at t0 and t0+gap exactly must
    # land in ONE session (the other tables link to SF_SMOKE, since the
    # oracle connection registers every table)
    with tempfile.TemporaryDirectory() as d:
        base = 1_700_000_000
        ts = [base, base + _SESSION_GAP_S, base + 3 * _SESSION_GAP_S]
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(3), pa.int64()),
                    "ts": pa.array(
                        [t * 1_000_000 for t in ts], pa.timestamp("us", tz="UTC")
                    ),
                    "user_id": pa.array([7] * 3, pa.int64()),
                    "event_type": pa.array(["view"] * 3, pa.string()),
                    "value": pa.array([1.0] * 3, pa.float64()),
                    "props": pa.array(["{}"] * 3, pa.string()),
                }
            ),
            os.path.join(d, "events.parquet"),
        )
        for t in TABLES:
            if t != "events":
                os.symlink(f"{SF_SMOKE}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
        built = []

        def build(spark, sf_dir):
            built.append(q_events_session_window(spark, sf_dir))
            return built[-1]

        compare(spark, d, build, _SESSION_ORACLE)
        # two sessions: {t0, t0+gap} merged, {t0+3gap} alone
        assert [row[3] for row in sorted(tuple(r) for r in built[0].collect())] == [2, 1]


def test_quality_gates_run_on_streams(spark, tmp_path):
    """The X29 classifier and X31 Gopher gates are stateless row-local
    projections, so they run UNCHANGED inside Structured Streaming —
    micro-batch output equals the batch gate over the same files (the
    streaming ingest form of the curation front door)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyspark_dist_explore_spark.operators.textstats import (
        classifier_exprs,
        gopher_quality_gate,
        gopher_signal_exprs,
        gopher_keep_expr,
    )
    from pyspark_dist_explore_spark.operators.dedup import tokens

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    doc_dir = str(tmp_path / "docs")
    rows = [
        (1, "the quick brown fox and that dog have fun with all of them"),
        (2, "zz"),
        (3, "- a\n- b\n- c"),
        (4, "one two three the of and that be to with have all good words"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(doc_dir)

    def gate(df):
        staged = df.select(
            "*",
            F.filter(
                tokens(F.coalesce(F.col("text"), F.lit(""))), lambda x: x != ""
            ).alias("__t"),
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n").alias("__l"),
        )
        sig = staged.select(
            "doc_id",
            *gopher_signal_exprs(F.col("__t"), F.col("__l"), F.col("text")),
            classifier_exprs(F.col("text"))[2],
        )
        return sig.select(
            "doc_id",
            "cls_keep",
            gopher_keep_expr(min_words=5, min_stop_words=1).alias("gq_keep"),
        )

    stream = spark.readStream.schema(schema).parquet(doc_dir)
    q = (
        gate(stream)
        .writeStream.format("memory")
        .queryName("gate_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            r["doc_id"]: (r["cls_keep"], r["gq_keep"])
            for r in spark.table("gate_sink").collect()
        }
    finally:
        q.stop()
    batch = {
        r["doc_id"]: (r["cls_keep"], r["gq_keep"])
        for r in gate(spark.read.schema(schema).parquet(doc_dir)).collect()
    }
    assert streamed == batch and len(streamed) == 4
    # sanity: the gates discriminate (doc 1 passes gopher, doc 2/3 fail)
    assert batch[1][1] == 1 and batch[2][1] == 0 and batch[3][1] == 0


def test_c4_gate_runs_on_streams(spark, tmp_path):
    """X37 is stateless and row-local like the other gates, so the C4
    clean runs UNCHANGED inside Structured Streaming — micro-batch
    output (counts, retained-text md5, keep) equals the batch run over
    the same files."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyspark_dist_explore_spark.operators.textstats import c4_clean

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    doc_dir = str(tmp_path / "c4docs")
    good = "\n".join(
        ["This is a fine sentence.", "Here is another good one!",
         "Is this a question?", 'She said "yes."', "And one more to close it."]
    )
    rows = [
        (1, good),
        (2, good + "\nnav menu junk"),
        (3, good + "\ncode { x }"),
        (4, None),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(doc_dir)

    stream = spark.readStream.schema(schema).parquet(doc_dir)
    q = (
        c4_clean(stream, "text", "doc_id")
        .writeStream.format("memory")
        .queryName("c4_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {r["doc_id"]: tuple(r) for r in spark.table("c4_sink").collect()}
    finally:
        q.stop()
    batch = {
        r["doc_id"]: tuple(r)
        for r in c4_clean(
            spark.read.schema(schema).parquet(doc_dir), "text", "doc_id"
        ).collect()
    }
    assert streamed == batch and len(streamed) == 4
    assert batch[1][-1] == 1 and batch[3][-1] == 0  # brace page dropped

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("host", StringType()),
        StructField("text", StringType()),
    ]
)


def test_stream_curate_lite_foreachbatch(spark, tmp_path):
    """Streaming curate-lite (r11 verdict item 6): the UNCHANGED batch
    operators — Gopher gate (X31), per-host cap (X41) — run inside
    foreachBatch over a watermark-deduped stream (X2), on the REAL
    streaming engine with two file-source micro-batches.  Pins: the
    cross-batch content duplicate is dropped by the engine's dedup
    state, the word-salad doc fails the gate, the over-capped host
    keeps exactly host_cap docs, and the kept ids equal the
    hand-computed set."""
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_curate_lite,
    )

    good = "the quick brown fox and the lazy dog of the north keep many fine words"
    salad = "zxq wvb qpr"  # 3 words < min_words -> gate fails
    b1 = [
        (1, _ts(0), "h1", good + " one"),
        (2, _ts(1), "h1", good + " two"),
        (3, _ts(2), "h1", good + " three"),   # h1 over cap=2 in batch 1
        (4, _ts(3), "h2", salad),             # fails the gate
        (5, _ts(4), "h2", good + " five"),
    ]
    b2 = [
        (6, _ts(5), "h3", good + " one"),     # content dup of doc 1 -> deduped
        (7, _ts(6), "h3", good + " seven"),
    ]
    d1, d2 = str(tmp_path / "in"), str(tmp_path / "in")
    spark.createDataFrame(b1, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(d1)
    spark.createDataFrame(b2, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(d2)

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d1)
    )
    got: dict[int, list] = {}

    def sink(batch, batch_id):
        got.setdefault(batch_id, []).extend(
            r["doc_id"] for r in batch.collect()
        )

    q = (
        stream_curate_lite(
            stream,
            sink,
            host_col="host",
            host_cap=2,
            min_words=5,
            min_stop_words=1,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(i for ids in got.values() for i in ids)
    # doc 4 gated out (3 words), one of docs 1-3 capped out of h1 (cap
    # 2, md5-rank deterministic), doc 6 deduped against doc 1's content
    assert 4 not in kept and 6 not in kept
    assert 5 in kept and 7 in kept
    assert len([i for i in kept if i in (1, 2, 3)]) == 2
    assert len(kept) == 4
    # determinism: the md5-rank cap keeps the same two h1 docs as the
    # batch operator on the same rows
    from pyspark_dist_explore_spark.operators.sampling import cap_per_key

    batch_h1 = spark.createDataFrame(
        [r for r in b1 if r[2] == "h1"], DOC_SCHEMA
    )
    want_h1 = sorted(
        r["doc_id"] for r in cap_per_key(batch_h1, "host", "doc_id", 2).collect()
    )
    assert sorted(i for i in kept if i in (1, 2, 3)) == want_h1


def test_stream_neardup_filter_foreachbatch(spark, tmp_path):
    """Streaming incremental near-dup (r12 verdict item 8): X27's
    broadcast-probe against a LANDED snapshot runs unchanged inside
    foreachBatch over two file-source micro-batches.  Pins: the
    re-crawl (snapshot text + a changed footer token) is dropped in
    both batches, novel docs pass, and the kept set equals the batch
    operator's anti-join on the same rows (parity, not a parallel
    implementation)."""
    from pyspark_dist_explore_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_band_rows,
        minhash_signatures,
    )
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_neardup_filter,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cold river "
        "runs past the old mill and the miller watches the slow water turn "
        "the heavy wheel all day long under the pale northern sky"
    )
    novel1 = (
        "completely different content about spark partitions shuffles and "
        "broadcast joins with no shared shingles at all in this entire "
        "document which keeps talking about executors tasks and stages"
    )
    novel2 = (
        "yet another unrelated page discussing tokenizers merges and "
        "fertility statistics for subword vocabularies trained on sampled "
        "corpora with deterministic tie breaks everywhere"
    )
    snap_docs = spark.createDataFrame(
        [(100, _ts(0), "s", base)], DOC_SCHEMA
    ).select("doc_id", "text")
    params = dict(num_hashes=32, bands=8, shingle_n=3, hash_fn="xxhash64")
    snap_bands = minhash_band_rows(snap_docs, "text", "doc_id", **params)
    snap_sigs = minhash_signatures(
        snap_docs, "text", "doc_id",
        num_hashes=params["num_hashes"], shingle_n=params["shingle_n"],
        hash_fn=params["hash_fn"],
    )

    b1 = [
        (1, _ts(0), "h1", base + " updated footer"),  # re-crawl -> dropped
        (2, _ts(1), "h1", novel1),
    ]
    b2 = [
        (3, _ts(2), "h2", base.replace("quick", "quick quick")),  # re-crawl
        (4, _ts(3), "h2", novel2),
    ]
    d = str(tmp_path / "in")
    spark.createDataFrame(b1, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(b2, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(d)
    )
    got: list[int] = []

    def sink(batch, batch_id):
        got.extend(r["doc_id"] for r in batch.collect())

    q = (
        stream_neardup_filter(
            stream, snap_bands, snap_sigs, sink, threshold=0.5, **params
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [2, 4], got

    # parity: the batch operator's anti-join on the union of both
    # batches keeps exactly the same ids
    all_docs = spark.createDataFrame(b1 + b2, DOC_SCHEMA)
    hits = incremental_minhash_neardup(
        all_docs, snap_bands, snap_sigs, "text", "doc_id",
        threshold=0.5, **params
    )
    batch_kept = sorted(
        r["doc_id"]
        for r in all_docs.join(
            hits.select("doc_id").distinct(), "doc_id", "left_anti"
        ).collect()
    )
    assert batch_kept == sorted(got)


def test_stream_pq_neardup_filter_foreachbatch(spark, tmp_path):
    """Streaming semantic near-dup against a LANDED PQ index (r13
    verdict item 7): ADC k=1 scoring runs unchanged inside foreachBatch
    over two file-source micro-batches.  The index is small enough that
    its sample codebook contains every corpus subvector, so ADC == the
    exact dot (the X64 exactness invariant) and the pins are
    arithmetic, not statistical: re-embedded copies of index vectors
    are dropped, orthogonal novel vectors pass, the IVF-restricted and
    rotated variants keep the same set, and the kept set equals the
    batch operator's anti-join (parity, not a parallel
    implementation)."""
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.operators import similarity
    from pyspark_dist_explore_spark.sources.sinks import (
        load_pq_index,
        write_pq_index,
    )
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_pq_neardup_filter,
    )

    dim, m = 64, 8

    def onehot(d, scale=1e6):
        v = [0.0] * dim
        v[d] = float(scale)
        return v

    # index: 12 one-hot corpus vectors (n_codes=16 > 12 => exact ADC)
    idx = spark.createDataFrame(
        [(i, onehot(i)) for i in range(12)],
        "vec_id bigint, embedding array<double>",
    )
    for salt in (None, "opq"):
        path = str(tmp_path / f"idx_{salt}")
        write_pq_index(
            idx, path, m=m, dim=dim, n_codes=16, n_centroids=8,
            rotation_salt=salt,
        )
        cents, cb, codes, assign, params = load_pq_index(spark, path)

        b1 = [(101, onehot(0)), (102, onehot(40))]   # dup of v0 / novel
        b2 = [(103, onehot(5)), (104, onehot(50))]   # dup of v5 / novel
        d = str(tmp_path / f"in_{salt}")
        vs = "vec_id bigint, embedding array<double>"
        spark.createDataFrame(b1, vs).coalesce(1).write.mode("append").parquet(d)
        spark.createDataFrame(b2, vs).coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema(vs).option("maxFilesPerTrigger", 1).parquet(d)
        )
        got: list[int] = []

        def sink(batch, batch_id):
            got.extend(r["vec_id"] for r in batch.collect())

        q = (
            stream_pq_neardup_filter(
                stream, cb, codes, sink,
                m=m, dim=dim, threshold=1e11,
                centroids=cents, assignments=assign, n_probe=4,
                rotation_salt=params["rotation_salt"],
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{salt}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert sorted(got) == [102, 104], (salt, got)

        # parity: the batch ADC operator on the union keeps the same set
        allv = spark.createDataFrame(b1 + b2, vs)
        qn = allv.select(F.col("vec_id").alias("query_id"), "embedding")
        if params["rotation_salt"] is not None:
            qn = similarity.rotate_embeddings(
                qn, dim=dim, salt=params["rotation_salt"]
            )
        hits = (
            similarity.pq_topk(codes, qn, cb, k=1, m=m, dim=dim)
            .where(F.col("score") >= 1e11)
            .select(F.col("query_id").alias("vec_id"))
            .distinct()
        )
        batch_kept = sorted(
            r["vec_id"]
            for r in allv.join(hits, "vec_id", "left_anti").collect()
        )
        assert batch_kept == sorted(got), (salt, batch_kept, got)

    # the full-scan (no IVF) form and the guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="together"):
        stream_pq_neardup_filter(
            spark.readStream.schema(vs).parquet(str(tmp_path / "in_None")),
            cb, codes, lambda b, i: None,
            m=m, dim=dim, threshold=1e11, centroids=cents,
        )


def test_stream_pq_neardup_filter_residual_index(spark, tmp_path):
    """X68↔X69 closure: the streaming filter serves a RESIDUAL landed
    index — one-hot geometry keeps the pins arithmetic (a re-embedded
    index vector scores its exact dot and is dropped; an orthogonal
    vector scores ≤ 0 against every reconstruction and passes); the
    guard refuses residual mode without the coarse quantizer."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_dist_explore_spark.sources.sinks import (
        load_pq_index,
        write_pq_index,
    )
    from pyspark_dist_explore_spark.streaming.histogram_stream import (
        stream_pq_neardup_filter,
    )

    dim, m = 64, 8

    def onehot(d, scale=1e6):
        v = [0.0] * dim
        v[d] = float(scale)
        return v

    idx = spark.createDataFrame(
        [(i, onehot(i)) for i in range(12)],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "residx")
    write_pq_index(
        idx, path, m=m, dim=dim, n_codes=16, n_centroids=8, residual=True
    )
    cents, cb, codes, assign, params = load_pq_index(
        spark, path, expect={"residual": True}
    )

    vs = "vec_id bigint, embedding array<double>"
    d = str(tmp_path / "in")
    spark.createDataFrame(
        [(101, onehot(0)), (102, onehot(40))], vs
    ).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(103, onehot(5)), (104, onehot(50))], vs
    ).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(vs).option("maxFilesPerTrigger", 1).parquet(d)
    )
    got: list[int] = []

    def sink(batch, batch_id):
        got.extend(r["vec_id"] for r in batch.collect())

    q = (
        stream_pq_neardup_filter(
            stream, cb, codes, sink,
            m=m, dim=dim, threshold=1e11,
            centroids=cents, n_probe=8, residual=True,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [102, 104], got

    with _pytest.raises(ValueError, match="residual=True requires"):
        stream_pq_neardup_filter(
            stream, cb, codes, sink, m=m, dim=dim,
            threshold=1e11, residual=True,
        )


@pytest.mark.parametrize(
    "value, expected",
    [
        ("67108864", 64 << 20),
        ("64m", 64 << 20),
        ("64MB", 64 << 20),
        ("1gb", 1 << 30),
        ("1t", 1 << 40),
        ("512k", 512 << 10),
        ("2KB", 2 << 10),
        ("1.5g", 3 << 29),
        ("10b", 10),
        (4096, 4096),
    ],
)
def test_parse_size_bytes_spark_suffixes(value, expected):
    """Spark byte-size strings parse with one- and two-character binary
    suffixes in any case ('64MB' is not read as '64M' + a stray 'B')."""
    from pyspark_dist_explore_spark.plans.streaming_q import _parse_size_bytes

    assert _parse_size_bytes(value) == expected


def test_stream_state_partitions_sum_directory_parts(spark, tmp_path):
    """A directory-of-parts events dataset counts the bytes of its data
    files (not the directory inode, and not '_'/'.' metadata files)."""
    from pyspark_dist_explore_spark.plans.streaming_q import _stream_state_partitions

    events = tmp_path / "events.parquet"
    events.mkdir()
    for i, n in enumerate((2000, 1500, 2600)):
        (events / f"part-{i:05d}.parquet").write_bytes(b"x" * n)
    (events / "_SUCCESS").write_bytes(b"x" * 50_000)
    (events / ".part-00000.parquet.crc").write_bytes(b"x" * 50_000)
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "16")
    session.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    # ceil(6100 bytes / 1 KiB) = 6, under the 16-partition ceiling
    assert _stream_state_partitions(session, str(tmp_path)) == 6
    session.conf.set("spark.sql.shuffle.partitions", "4")
    assert _stream_state_partitions(session, str(tmp_path)) == 4


def test_events_stream_hist_leaves_caller_conf_untouched(spark, monkeypatch):
    """Building the registered streaming histogram never writes the
    caller session's conf: the stream runs in its own session."""
    from pyspark.sql.conf import RuntimeConfig

    from pyspark_dist_explore_spark.plans.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    caller = spark.conf._jconf
    set_conf = RuntimeConfig.set

    def guarded_set(self, key, value):
        assert not self._jconf.equals(caller), f"caller conf written: {key}={value}"
        return set_conf(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", guarded_set)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = REGISTRY["events_stream_hist"].build(spark, SF_SMOKE).collect()
    assert rows
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
