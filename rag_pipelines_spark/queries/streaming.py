"""§2.9 — event-time windows and incremental/streaming equivalents.

The tumbling/sliding/session windows run here in *batch* mode (same
`F.window`/`F.session_window` operators Structured Streaming uses), so the
DuckDB oracle can hash-check their semantics; the true streaming runs
(readStream + watermark + memory sink) live in streaming/incremental.py and
its tests, plus the rows-only `q_stream_dedup` below.
"""

from __future__ import annotations

import os
import shutil
import uuid
from functools import partial

from pyspark.sql import functions as F

from rag_pipelines_spark.registry import register
from rag_pipelines_spark.session import SCRATCH_ROOT
from rag_pipelines_spark.streaming.incremental import available_now_parquet
from rag_pipelines_spark.queries._util import (
    Part,
    dsum,
    o_dsum,
    register_checksum,
    t,
)


@register(
    "q_tumbling_agg",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n,
           {o_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="declared: tumbling 1-hour event-time window "
    "(streaming shape: withWatermark + window; batch-checked here)",
)
def q_tumbling_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n", "total_value"
        )
    )


@register(
    "q_sliding_agg",
    oracle=f"""
    WITH slots AS (
        SELECT e.*,
               time_bucket(INTERVAL '15 minutes', e.ts)
                   - to_minutes(15 * s.k) AS window_start
        FROM events e, (SELECT unnest([0, 1, 2, 3]) AS k) s
    )
    SELECT window_start, COUNT(*) AS n, {o_dsum('value')} AS total_value
    FROM slots
    GROUP BY window_start
    """,
    doc="declared: sliding window 1h every 15min — each event lands in 4 "
    "overlapping windows (Spark window(ts,'1 hour','15 minutes'))",
)
def q_sliding_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@register(
    "q_session_agg",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    ids AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM ids
    GROUP BY user_id, session_id
    """,
    doc="declared: 30-minute-gap session window (Spark session_window; oracle "
    "= lag-gap-cumsum islands, the classic batch sessionization). Boundary "
    "semantics, probed and pinned (tests/test_pipelines.py::"
    "test_exact_gap_boundary_merges): an event at a gap of EXACTLY the "
    "30-minute timeout MERGES into the running session (Spark's merge "
    "condition is ts <= prev_end = last_ts + gap), so the oracle's island "
    "rule is strictly 'gap > 30 minutes' — '>=' would split one session "
    "where Spark keeps one. Streaming twin: streaming/incremental.py::"
    "session_windowed_query — watermarked merging-state sessions, "
    "exactly-once emission + eviction pinned e2e in "
    "tests/test_pipelines.py::TestStreamingSessionWindows (r6)",
)
def q_session_agg(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


register_checksum(
    "q_session_agg",
    key="user_id",
    count="n_sessions",
    sums={"total_events": "n_events"},
    parts=[
        Part("session_start", ts="us"),
        Part("session_end", ts="us"),
        "n_events",
    ],
    doc="bounded differential form of q_session_agg for the sf10 scaling "
    "rung (SCALE.md): the same session_window dataflow reduced to one row "
    "per user — session count, event total, and an order-insensitive XOR "
    "of 60-bit md5 digests over (start, end, n_events). Timestamps enter "
    "the digest via an EXPLICIT fixed-width microsecond format "
    "(date_format / strftime) — events.ts is TIMESTAMP_NTZ, so epoch "
    "getters are tz-dependent and bare casts trim trailing zeros "
    "differently per engine. A single session boundary moved by one "
    "event flips the signature",
)


def _events_stream(spark, sf_dir):
    """readStream over the events table with io.table's ts normalization
    (TIMESTAMP(NANOS) parquet surfaces as bigint nanos under nanosAsLong
    on some Spark/parquet combos, as TimestampNTZ on others)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table_path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(table_path).schema
    if os.path.isdir(table_path):
        # generated big-SF fixtures are parquet DIRECTORIES — stream the
        # dir itself (a name glob on the parent would match no leaf files
        # and silently produce an empty zero-batch stream; found at sf1)
        stream = spark.readStream.schema(raw_schema).parquet(table_path)
    else:
        # driver fixtures are single files; file-stream sources need a
        # directory, so scope the parent by name glob
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if dict(stream.dtypes).get("ts") == "bigint"
        # watermarks demand TIMESTAMP (LTZ); the session tz is pinned
        # UTC (io.table), so the NTZ -> LTZ cast is a no-op wall-clock
        else F.col("ts").cast("timestamp")
    )
    return stream.withColumn("ts", ts)


def _run_available_now(spark, tag, start):
    """Run one availableNow streaming query, `start(ckpt, out, name)`,
    into a parquet sink and read the sink back. localCheckpoint pins the
    result in executor memory (the batch stays distributed, never
    driver-side), so both scratch dirs are removed — on failure too."""
    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(SCRATCH_ROOT, f"ckpt-{name}")
    out = os.path.join(SCRATCH_ROOT, f"out-{name}")
    # a stale checkpoint would make availableNow read nothing
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(ckpt)
    try:
        start(ckpt, out, name).awaitTermination()
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q_stream_session",
    oracle=None,  # true Structured Streaming run (merging session state,
    # watermark-gated append emission) — rows-only; emission equality vs
    # the batch lag-gap-cumsum oracle is pinned e2e in
    # tests/test_pipelines.py::TestStreamingSessionWindows
    doc="round-6 streaming session windows served through the registry: "
    "readStream over events, session_window(30 min gap) + 1 h watermark, "
    "availableNow, parquet sink + read-back "
    "(streaming/incremental.py::session_windowed_query). Only sessions the "
    "final watermark closed are emitted — the append-mode contract",
)
def q_stream_session(spark, sf_dir):
    from rag_pipelines_spark.streaming.incremental import (
        session_windowed_query,
    )

    ev = _events_stream(spark, sf_dir).select("user_id", "ts")
    return _run_available_now(
        spark,
        "stream_session",
        lambda ckpt, out, name: session_windowed_query(
            ev, ckpt, gap="30 minutes", watermark="1 hour",
            sink_path=out, queryName=name,
        ),
    )


@register(
    "q_stream_dedup",
    oracle=None,  # true Structured Streaming run — rows-only
    doc="T2 incremental dedup: readStream over the events parquet, "
    "dropDuplicates on a content key, availableNow trigger, parquet sink + "
    "read-back (no driver-side memory sink — results stay executor-written "
    "files, matching the repo's no-driver-data posture). "
    "ref: fda_watcher.py:373-416 (delta modes); checkpoint replaces Excel",
)
def q_stream_dedup(spark, sf_dir):
    # deterministic projection: the distinct key set (first-seen row is
    # arbitrary under parallel read, so don't carry non-key columns)
    deduped = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_available_now(
        spark, "stream_dedup", partial(available_now_parquet, deduped)
    )


@register(
    "q_downsample",
    oracle=f"""
    SELECT user_id,
           date_trunc('hour', ts) AS bucket,
           MIN_BY(value, ts) AS open_v,
           MAX_BY(value, ts) AS close_v,
           MIN(value) AS low_v,
           MAX(value) AS high_v,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id, date_trunc('hour', ts)
    """,
    doc="time-series downsampling (hypertable-rollup shape): per user per "
    "hour, open/close via min_by/max_by on event time + min/max/count — "
    "one hash aggregate, no window needed",
)
def q_downsample(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.min_by("value", "ts").alias("open_v"),
            F.max_by("value", "ts").alias("close_v"),
            F.min("value").alias("low_v"),
            F.max("value").alias("high_v"),
            F.count("*").alias("n"),
        )
    )


register_checksum(
    "q_downsample",
    key="user_id",
    count="n_buckets",
    sums={"total_events": "n"},
    parts=[
        Part("bucket", ts="s"),
        *(Part(c, dec="18,2") for c in ("open_v", "close_v", "low_v", "high_v")),
        "n",
    ],
    doc="bounded differential form of q_downsample for the sf10 scaling "
    "rung (SCALE.md): the hourly OHLC frame reduced to one row per user "
    "— bucket count, event total, and an order-insensitive XOR of md5 "
    "digests over every bucket's full OHLC tuple. Values enter the "
    "digest as DECIMAL(18,2) strings (the fixture's value scale, same "
    "rendering both engines); buckets as fixed-width second strings "
    "(hour-truncated NTZ — no tz, no fraction)",
)


@register(
    "q_stream_join",
    oracle="""
    SELECT a.user_id, a.ts AS view_ts, b.ts AS buy_ts, b.value AS buy_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    doc="true Structured Streaming stream-stream interval join "
    "(streaming/joins.py::stream_interval_join): views and purchases read "
    "as two file streams, watermarked both sides, joined per user within "
    "a 4-hour window, parquet sink + read-back. availableNow over the "
    "fixture is a single micro-batch, so the append-mode emission equals "
    "the batch interval join exactly — which is what the oracle checks. "
    "State stays O(key-rate x interval) per the both-side watermarks",
)
def q_stream_join(spark, sf_dir):
    from rag_pipelines_spark.streaming.joins import stream_interval_join

    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
    )
    buys = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("buy_ts"),
            F.col("value").alias("buy_value"),
        )
    )
    joined = stream_interval_join(
        views,
        buys,
        key="user_id",
        left_ts="view_ts",
        right_ts="buy_ts",
        max_delay="4 hours",
        watermark="4 hours",
    ).select("user_id", "view_ts", "buy_ts", "buy_value")
    return _run_available_now(
        spark, "stream_join", partial(available_now_parquet, joined)
    )
