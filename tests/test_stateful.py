"""Streaming state: the stream-stream interval join. Parquet sinks — the
memory sink cannot recover from a checkpoint. Watermarked window
emission across resumed runs (late event dropped, in-bound late event
kept, no re-emit) is pinned in
tests/test_pipelines.py::TestStreamingSessionWindows."""

from __future__ import annotations

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
