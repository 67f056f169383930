"""Test the applyInPandasWithState first-seen dedup across micro-batches:
state must persist between runs (same checkpoint) so a key seen in run 1
is suppressed in run 2. Parquet sink — the memory sink cannot recover
from a checkpoint."""

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


def test_seen_keys_dedup_across_batches(spark, tmp_path):
    from rag_pipelines_spark.streaming.stateful import seen_keys_dedup

    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "rag_id string, source string, payload string"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            seen_keys_dedup(stream.groupBy("source"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    # run 1: a, b (plus an in-batch duplicate of a)
    write_batch([("a", "s1", "p1"), ("b", "s1", "p2"), ("a", "s1", "p1x")])
    first = run_once()
    assert {r["rag_id"] for r in first.collect()} == {"a", "b"}

    # run 2 resumes the same checkpoint: a suppressed by state, c is new
    write_batch([("a", "s1", "p-again"), ("c", "s1", "p3")])
    second = run_once()
    ids = sorted(r["rag_id"] for r in second.collect())
    assert ids == ["a", "b", "c"], f"state did not persist: {ids}"
    # and 'a' was emitted exactly once across both runs
    assert second.filter("rag_id = 'a'").count() == 1


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


def test_seen_keys_dedup_tws_matches_apipws(spark, tmp_path):
    """The transformWithStateInPandas twin must reproduce the
    applyInPandasWithState path exactly across resumed runs: same
    first-seen survivors, same exactly-once emission.

    transformWithState's Python<->JVM state server speaks protobuf;
    environments without the protobuf package (this container) can't
    start the driver worker, so the parity pin runs only where the
    dependency exists (the operator itself is plain pyspark API)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state server requires protobuf",
    )
    from rag_pipelines_spark.streaming.stateful import seen_keys_dedup_tws

    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "rag_id string, source string, payload string"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        def run_once():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                seen_keys_dedup_tws(stream.groupBy("source"))
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out_dir)

        write_batch([("a", "s1", "p1"), ("b", "s1", "p2"), ("a", "s1", "p1x")])
        first = run_once()
        assert {r["rag_id"] for r in first.collect()} == {"a", "b"}

        write_batch([("a", "s1", "p-again"), ("c", "s1", "p3")])
        second = run_once()
        ids = sorted(r["rag_id"] for r in second.collect())
        assert ids == ["a", "b", "c"], f"state did not persist: {ids}"
        assert second.filter("rag_id = 'a'").count() == 1
        # the first-seen payload (not the replayed one) is what survives
        assert (
            second.filter("rag_id = 'a'").collect()[0]["payload"] == "p1"
        )
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)


def test_first_seen_processor_logic_matches_dedup_fn():
    """Pin the StatefulProcessor twin's Python logic against _dedup_fn
    WITHOUT the streaming engines: drive both over the same micro-batch
    sequence with fake state objects. This runs in any environment —
    the protobuf-gated test above covers only the wire protocol."""
    import pandas as pd

    from rag_pipelines_spark.streaming.stateful import (
        FirstSeenProcessor,
        _dedup_fn,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.vs = FakeValueState()

        def getValueState(self, name, schema):
            return self.vs

    class FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    batches = [
        pd.DataFrame(
            {"rag_id": ["a", "b", "a"], "source": "s1",
             "payload": ["p1", "p2", "p1x"]}
        ),
        pd.DataFrame(
            {"rag_id": ["a", "c"], "source": "s1",
             "payload": ["p-again", "p3"]}
        ),
    ]

    proc = FirstSeenProcessor()
    proc.init(FakeHandle())
    gs = FakeGroupState()
    out_tws, out_apipws = [], []
    for b in batches:
        out_tws.extend(
            df for df in proc.handleInputRows(("s1",), iter([b.copy()]), None)
        )
        out_apipws.extend(
            df for df in _dedup_fn(("s1",), iter([b.copy()]), gs)
        )
    tws = pd.concat(out_tws, ignore_index=True)
    ap = pd.concat(out_apipws, ignore_index=True)
    pd.testing.assert_frame_equal(tws, ap)
    assert list(tws["rag_id"]) == ["a", "b", "c"]
    assert list(tws["payload"]) == ["p1", "p2", "p3"]
