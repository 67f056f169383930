"""Streaming state across resumed runs: watermark semantics of
windowed_counts_query and the stream-stream interval join. Parquet
sinks — the memory sink cannot recover from a checkpoint."""

from __future__ import annotations

import os

import pytest

# Fsync-bound slow partition (tools/slow_tests.txt): deselected by the
# default `-m "not slow"` addopts; run via tools/run_slow_suite.sh.
# Naming this file explicitly still selects nothing without `-m slow`
# (e.g. `pytest -m slow tests/test_stateful.py`).
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("stateful-tests", shuffle_partitions=4)


def test_watermark_drops_late_keeps_in_bound(spark, tmp_path):
    """End-to-end watermark semantics across two availableNow runs of
    windowed_counts_query (1h watermark, 15min windows, append mode):

    run 1 establishes watermark 11:00 (max ts 12:00 - 1h) and emits the
    closed 10:00 window. Run 2 resumes the checkpoint and delivers two late
    events: 10:03 (beyond the watermark -> its window is closed -> DROPPED,
    no duplicate 10:00-window row may appear) and 11:10 (within the
    watermark -> KEPT, emitted once 13:00 pushes the watermark past 11:15).
    """
    from datetime import datetime

    from rag_pipelines_spark.streaming.incremental import windowed_counts_query

    src = str(tmp_path / "wm-src")
    sink = str(tmp_path / "wm-sink")
    ckpt = str(tmp_path / "wm-ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "ts timestamp, event_type string"

    def ts(h, m):
        return datetime(2024, 1, 15, h, m)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = windowed_counts_query(
            stream,
            checkpoint=ckpt,
            watermark="1 hour",
            window="15 minutes",
            sink_path=sink,
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    # run 1: two events in the 10:00 window; 12:00 advances the watermark
    write_batch([(ts(10, 0), "ok"), (ts(10, 5), "ok"), (ts(12, 0), "ok")])
    first = {
        (r["window_start"], r["event_type"]): r["n"] for r in run_once().collect()
    }
    assert first == {(ts(10, 0), "ok"): 2}  # 12:00 window still open

    # run 2: 10:03 is beyond the 11:00 watermark (drop); 11:10 is within
    # (keep); 13:00 advances the watermark to 12:00 so 11:00 window emits
    write_batch([(ts(10, 3), "ok"), (ts(11, 10), "ok"), (ts(13, 0), "ok")])
    second = [
        (r["window_start"], r["event_type"], r["n"]) for r in run_once().collect()
    ]
    assert sorted(second) == [
        (ts(10, 0), "ok", 2),  # unchanged — the late 10:03 event was dropped
        (ts(11, 0), "ok", 1),  # the in-bound late event was kept
    ]


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams joined within a 10-minute interval: in-window pairs
    emit, out-of-window and wrong-key pairs don't; batch execution of the
    same operator agrees (watermark is a no-op in batch)."""
    from rag_pipelines_spark.streaming.joins import stream_interval_join

    click_dir = str(tmp_path / "clicks")
    buy_dir = str(tmp_path / "buys")
    out_dir = str(tmp_path / "joined")
    ckpt = str(tmp_path / "ckpt")
    cs = "user_id long, l_ts timestamp, page string"
    bs = "user_id long, r_ts timestamp, amount double"

    def ts(s):
        import datetime

        return datetime.datetime.fromisoformat(s)

    clicks = [
        (1, ts("2024-01-01 10:00:00"), "home"),
        (2, ts("2024-01-01 10:00:00"), "search"),
        (3, ts("2024-01-01 10:30:00"), "home"),
    ]
    buys = [
        (1, ts("2024-01-01 10:05:00"), 9.99),   # in window for click 1
        (2, ts("2024-01-01 10:20:00"), 5.00),   # 20 min late -> OUT
        (3, ts("2024-01-01 10:29:00"), 1.00),   # before the click -> OUT
        (3, ts("2024-01-01 10:31:00"), 2.50),   # in window for click 3
    ]
    spark.createDataFrame(clicks, cs).coalesce(1).write.parquet(click_dir)
    spark.createDataFrame(buys, bs).coalesce(1).write.parquet(buy_dir)

    left = spark.readStream.schema(cs).parquet(click_dir)
    right = spark.readStream.schema(bs).parquet(buy_dir)
    joined = stream_interval_join(
        left, right, key="user_id", left_ts="l_ts", right_ts="r_ts"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        (r["user_id"], r["amount"]) for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [(1, 9.99), (3, 2.50)], got

    # batch differential: same operator over the same data as batch frames
    batch = stream_interval_join(
        spark.read.parquet(click_dir),
        spark.read.parquet(buy_dir),
        key="user_id",
        left_ts="l_ts",
        right_ts="r_ts",
    )
    got_batch = sorted((r["user_id"], r["amount"]) for r in batch.collect())
    assert got_batch == got, (got_batch, got)


def test_stream_interval_join_colliding_names(spark, tmp_path):
    """Shared column names between the two sides (both 'ts', both 'source')
    must come out uniquely named, not as AMBIGUOUS_REFERENCE bait."""
    import datetime

    from rag_pipelines_spark.streaming.joins import stream_interval_join

    ts = datetime.datetime.fromisoformat
    cs = "user_id long, ts timestamp, source string"
    bs = "user_id long, ts timestamp, source string, amount double"
    left = spark.createDataFrame([(1, ts("2024-01-01 10:00:00"), "web")], cs)
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 10:05:00"), "app", 3.0)], bs
    )
    out = stream_interval_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts"
    )
    assert len(out.columns) == len(set(out.columns)), out.columns
    assert out.columns == ["user_id", "ts", "source", "r_ts", "r_source", "amount"]
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["amount"] == 3.0
