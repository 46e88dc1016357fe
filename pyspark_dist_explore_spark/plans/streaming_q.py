"""Streaming-shaped query registrations (X8).

The driver's oracle harness collects a batch DataFrame.  The registered
``events_stream_hist`` AND ``events_session_window`` run
the REAL Structured Streaming engine against it (``readStream`` file
source → ``availableNow`` trigger → memory sink, complete output mode —
the final state of a complete-mode aggregation over a finite source
equals the batch aggregate, so the DuckDB oracles hash-check actual
streaming execution, tumbling-window state and merging session state
included).  ``events_interval_join`` remains a batch twin: stream-stream
joins are append-only (no complete mode), and append-mode watermarks
never close the tail windows of a finite source, so its streaming
result differs from batch by construction — that path stays
pytest-pinned in tests/test_streaming.py (micro-batches, watermark,
late-data drop, state plateaus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.numeric import bucket_sql
from pyspark_dist_explore_spark.plans.queries import register
from pyspark_dist_explore_spark.sources.tables import load_events_stream, load_table
from pyspark_dist_explore_spark.streaming.histogram_stream import (
    stream_interval_join,
    stream_windowed_histogram,
)

_BINS = 10
_LO, _HI = 0.0, 500.0


#: Spark byte-size suffixes (binary units, case-insensitive); two-char
#: suffixes come first so '64mb' is not read as '64m' + a stray 'b'
_SIZE_SUFFIXES = (
    ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40), ("pb", 1 << 50),
    ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40), ("p", 1 << 50),
    ("b", 1),
)


def _parse_size_bytes(v: str | int) -> int:
    """Parse a Spark byte-size conf value ('64m', '64MB', '1t', '67108864')."""
    if isinstance(v, int):
        return v
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in _SIZE_SUFFIXES:
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s) * mult)


def _path_bytes(path: str) -> int:
    """Size of a file, or the summed size of the data files under a
    dataset directory (Spark skips names starting with '_' or '.')."""
    if not os.path.isdir(path):
        return os.stat(path).st_size
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def _stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive state-store partition count for the registered
    streaming histogram.

    A streaming aggregation's state partitioning is FIXED by
    ``spark.sql.shuffle.partitions`` at the first micro-batch — AQE's
    size-based coalescing never applies to it — so at a small input the
    engine schedules (and commits state for) the full session partition
    count per micro-batch while each partition holds a few KB.  Derive
    the count the same way AQE would: ``ceil(input bytes / advisory
    partition size)``, clamped to ``[1, spark.sql.shuffle.partitions]``
    — the session's scale knob stays the ceiling, so a real deployment
    (bytes ≫ advisory·partitions) is unchanged and only the tiny-input
    regime collapses."""
    path = os.path.join(sf_dir, "events.parquet")
    try:
        nbytes = _path_bytes(path)
    except OSError:
        nbytes = None
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if not nbytes:
        return cur
    advisory = _parse_size_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    )
    return max(1, min(cur, -(-nbytes // max(advisory, 1))))


_STREAM_HIST_ORACLE = f"""
SELECT CAST(floor(epoch(ts) / 21600.0) AS BIGINT) * 21600 AS window_start,
       {bucket_sql('value', repr(_LO), repr(_HI), _BINS)} AS bucket,
       count(*) AS cnt
FROM events
WHERE value IS NOT NULL AND NOT isnan(value) AND value >= {_LO!r} AND value <= {_HI!r}
GROUP BY 1, 2
"""

#: memory-sink table name for the registered streaming execution — fixed
#: (restarting a stopped query under the same name replaces the table,
#: so repeat builds in one session do not accumulate sinks)
_STREAM_HIST_SINK = "pyspark_dist_explore_events_stream_hist_sink"


@register("events_stream_hist", _STREAM_HIST_ORACLE)
def q_events_stream_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: the streaming windowed histogram — 6-hour tumbling windows,
    fixed range [0, 500] (streams can't take a global min/max pre-pass),
    same bucket expression as the batch histogram; ``window_start``
    emitted as epoch seconds (tz-free).

    Executes the real Structured Streaming engine: ``readStream`` over
    the events parquet (:func:`load_events_stream`), ``availableNow``
    trigger, complete-output memory sink, blocking until the source is
    drained.  A complete-mode aggregation's final state over a finite
    source equals the batch aggregate, so the DuckDB oracle hash-checks
    actual micro-batch execution — watermark wiring, state store and
    all.  The stream runs in ``spark.newSession()`` (separate SQL conf,
    shared SparkContext) with the state partition count from
    :func:`_stream_state_partitions` set there, and the memory sink is
    read back through that session, so the caller's session conf is
    never written."""
    session = spark.newSession()
    session.conf.set(
        "spark.sql.shuffle.partitions", str(_stream_state_partitions(spark, sf_dir))
    )
    e = load_events_stream(session, sf_dir)
    out = stream_windowed_histogram(
        e, window_duration="6 hours", bins=_BINS, range=(_LO, _HI)
    )
    out = out.select(
        F.col("window_start").cast("double").cast("bigint").alias("window_start"),
        "bucket",
        "cnt",
    )
    q = (
        out.writeStream.format("memory")
        .queryName(_STREAM_HIST_SINK)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return session.table(_STREAM_HIST_SINK)


@register(
    "events_interval_join",
    """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
""",
)
def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8d: the stream-stream interval join's batch twin — click events
    attribute to same-user view events within 30 minutes after the view.
    The PLAN here (key equi-join + event-time interval condition) is the
    one ``readStream`` executes; the streaming path itself (dual
    watermark, bounded state, late-data eviction) is pytest-pinned in
    tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    j = stream_interval_join(views, clicks, "user_id", within="30 minutes")
    return j.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("event_id_r").alias("click_id"),
    )


_SESSION_GAP_S = 1800

_SESSION_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
flagged AS (
  SELECT user_id, sec,
         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, sec,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY sec
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, min(sec) AS session_start, max(sec) AS session_last, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""

_SESSION_SINK = "pyspark_dist_explore_events_session_window_sink"


@register("events_session_window", _SESSION_ORACLE)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — ``session_window`` is the
    Structured Streaming primitive; the DuckDB oracle is the classic
    gaps-and-islands rewrite of the same semantics.

    Second-granularity epochs on both sides (sub-second event spacing
    within one user never straddles the 30-min gap test).  The oracle's
    gap test is ``> gap``, matching the streaming engine's tie behavior:
    an event arriving EXACTLY ``gap`` seconds after the last one MERGES
    into the session (``session_window``'s merge test treats the window
    end inclusively) — the sf0.1 corpus contains exactly one such tie,
    and ``>= gap`` would split it where the engine does not.

    Executes the real streaming engine: ``readStream`` →
    ``groupBy(session_window(...))`` (merging session state store) →
    complete-mode memory sink drained with ``availableNow``.  A
    complete-mode session aggregation's final state over a finite
    source equals the batch result, so the oracle hash-checks actual
    streaming session merging.  ``session_last`` is recovered as
    ``window.end − gap`` (the window end IS last + gap).  The state
    partition count stays at the session's
    ``spark.sql.shuffle.partitions``: the merging state operator does
    per-partition work proportional to rows, so collapsing partitions
    (as ``events_stream_hist`` does) serializes the merge."""
    stream = load_events_stream(spark, sf_dir).select(
        "user_id",
        F.timestamp_micros(
            F.expr("ts_ns div 1000000000") * F.lit(1_000_000)
        ).alias("tsec"),
    )
    agg = (
        stream.groupBy(
            "user_id",
            F.session_window("tsec", f"{_SESSION_GAP_S} seconds").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.expr("unix_micros(w.start) div 1000000").alias("session_start"),
            (
                F.expr("unix_micros(w.end) div 1000000") - F.lit(_SESSION_GAP_S)
            ).alias("session_last"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(_SESSION_SINK)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(_SESSION_SINK)
