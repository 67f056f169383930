"""The benchmark workloads.

Each workload generates its inputs from the seed (`prepare`), runs one
operation at a time as a closed loop from one client (`op`), and checks
every operation's output. An operation returns an `Op`: its wall time,
the samples the workload reports, the problems its checks found, and,
when traced, its per-layer metrics.

Traced operations materialize each layer's output in turn under a span
of its own, so a layer's self time is its own action's wall time.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import hashlib
import json
import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from perfbench import gen
from tools.driver_sim_lib import vhash


@dataclass
class Op:
    wall_s: float
    problems: list[str] = field(default_factory=list)
    samples: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str  # temporary directory the run deletes


class Workload:
    """One workload: `prepare` its inputs, then `op` repeatedly."""

    name: str
    exhausted = False  # True once the generated inputs are used up

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> dict:
        """Generate the inputs; return facts about them to print."""
        raise NotImplementedError

    def op(self, i: int, tr) -> Op:
        """Run operation `i`, traced by `tr` unless it is None."""
        raise NotImplementedError

    def warm_up(self) -> Op:
        """The first operation on the measured-size inputs."""
        return self.op(0, None)

    def summary(self) -> dict:
        """End-of-run metrics beyond the per-operation samples."""
        return {}

    def close(self) -> None:
        pass


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def _span(tr, name: str, i: int):
    """A tracer span, or nothing on an untraced operation."""
    return tr.span(name, i) if tr is not None else contextlib.nullcontext()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# rag_ingest
# ---------------------------------------------------------------------------


def article_transport(seed: int):
    """Deterministic offline article body per URL, in the shape the
    cleaner handles: content lines, a boilerplate line, a standalone
    header and, for about half the URLs, a cutoff line with trailing
    text the cleaner truncates."""
    words = (
        "agency approves new therapy for adult patients with advanced disease "
        "based on results from a randomized trial the review team assessed "
        "overall response and duration of benefit across study arms"
    ).split()

    def fetch(url: str) -> str:
        h = hashlib.md5(f"{seed}|{url}".encode()).digest()
        lines = []
        for k in range(4 + h[0] % 5):
            n = 8 + h[(k + 1) % 16] % 10
            lines.append(" ".join(words[(h[(k + j) % 16] + j) % len(words)] for j in range(n)))
        lines.insert(1, "Efficacy and Safety")
        lines.append("Follow us on X for agency updates")
        if h[15] & 1:
            lines.append("This review was conducted under Project Orbis")
            lines.append("trailing text after the cutoff is dropped")
        return "\n".join(lines)

    return fetch


SERVE_QUERIES = [
    (0, "therapy patients trial"),
    (1, "review team response"),
    (2, "agency approves disease"),
    (3, "duration benefit study"),
]

# continuous-ingest schema of the cleaned records landed for the stream
INGEST_SCHEMA = "doc_id long, text string, lang string, n_chars long"

# state folds timed in traced runs: (module, function)
FOLDS = (
    ("rag_pipelines_spark.operators.dedup", "incremental_neardup"),
    ("rag_pipelines_spark.operators.retrieval", "merge_corpus_stats"),
    ("rag_pipelines_spark.operators.rollup", "merge_rollup"),
    ("rag_pipelines_spark.operators.hllsketch", "merge_hll"),
    ("rag_pipelines_spark.operators.cmsketch", "merge_cm"),
    ("rag_pipelines_spark.operators.state", "mark_epoch_committed"),
)


def _progress_start(p: dict) -> float:
    return datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class RagIngest(Workload):
    """The reference's watcher dataflow, run incrementally.

    Each operation takes one landed batch of listing pages through
    watcher delta -> split and clean -> JSONL publish, lands the cleaned
    records for `continuous_ingest_pipeline` (one availableNow run with
    the seen, neardup, stats, rollup, HLL and Count-Min families), and
    then serves one BM25 top-k read from the corpus-stats state.
    """

    name = "rag_ingest"
    BATCHES = 8
    BATCH_ROWS = 600
    ROWS_PER_PAGE = 50
    RESEND = 0.2

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.next = 0
        self.landed_bytes = 0
        self.fold_s = 0.0
        self._unpatch: list = []

    def prepare(self) -> dict:
        from rag_pipelines_spark.plans.pipelines import BASE_DOMAIN

        w, spark = self.ctx.work, self.ctx.spark
        data = os.path.join(w, "data")
        self.landing = os.path.join(w, "landing")
        self.root = os.path.join(w, "state")
        self.ckpt = os.path.join(w, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        self.batches = gen.listing_batches(
            spark, self.ctx.seed, data, n_batches=self.BATCHES,
            batch_rows=self.BATCH_ROWS, rows_per_page=self.ROWS_PER_PAGE,
            resend_frac=self.RESEND, base_domain=BASE_DOMAIN,
        )
        self.master = spark.read.parquet(os.path.join(data, "master.parquet"))
        self.transport = article_transport(self.ctx.seed)
        self._patch_folds()
        return {"batches": self.BATCHES, "batch_rows": self.BATCH_ROWS,
                "resend_frac": self.RESEND, "master_rows": self.master.count(),
                "new_per_batch": [len(b["expected_new"]) for b in self.batches]}

    def _patch_folds(self) -> None:
        """Wrap each state-fold function to add up its wall time. The
        pipeline imports them at call time, so it calls the wrappers."""
        import importlib

        for mod_name, fn_name in FOLDS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)

            def timed(*a, _orig=orig, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(*a, **kw)
                finally:
                    self.fold_s += time.perf_counter() - t0

            setattr(mod, fn_name, timed)
            self._unpatch.append((mod, fn_name, orig))

    def close(self) -> None:
        for mod, fn_name, orig in self._unpatch:
            setattr(mod, fn_name, orig)

    @property
    def exhausted(self) -> bool:
        return self.next >= len(self.batches)

    def _publish(self, i: int, pages, out: str, tr) -> None:
        """watcher -> split and clean -> JSONL, as one plan, or layer by
        layer when traced: parse alone, the watcher (parse + delta +
        fetch), fetch alone on the watcher's links, clean, write."""
        from rag_pipelines_spark.plans.pipelines import (
            split_and_clean_pipeline,
            watcher_pipeline,
        )
        from rag_pipelines_spark.sources.html_table import fetch_enrich, parse_html_tables
        from rag_pipelines_spark.sources.jsonl import write_jsonl

        if tr is None:
            res = watcher_pipeline(pages, self.master, transport=self.transport)
            write_jsonl(split_and_clean_pipeline(res.new_records)[0], out)
            return
        with tr.span("sources.parse_html", i):
            parse_html_tables(pages).localCheckpoint(eager=True)
        with tr.span("plans.watcher", i):
            new = watcher_pipeline(
                pages, self.master, transport=self.transport
            ).new_records.localCheckpoint(eager=True)
        with tr.span("sources.fetch_enrich", i):
            fetch_enrich(
                new.drop("text"), url_col="webpage", out_col="text", transport=self.transport
            ).localCheckpoint(eager=True)
        with tr.span("operators.cleaning.clean", i):
            docs = split_and_clean_pipeline(new)[0].localCheckpoint(eager=True)
        with tr.span("sources.write_jsonl", i):
            write_jsonl(docs, out)

    def _land(self, published: str, epoch: int) -> None:
        """Land the published records as one parquet file for the stream."""
        from rag_pipelines_spark.sources.jsonl import read_jsonl

        tmp = os.path.join(self.ctx.work, "landing-tmp", str(epoch))
        records = read_jsonl(
            self.ctx.spark, published, "rag_id string, description string, corpus string"
        ).select(
            F.conv(F.substring("rag_id", 1, 15), 16, 10).cast("long").alias("doc_id"),
            F.col("corpus").alias("text"),
            F.col("description").alias("lang"),
            F.length("corpus").cast("long").alias("n_chars"),
        )
        gen.write_one_file(records, tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(self.landing, f"batch-{epoch:04d}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    def _serve(self):
        from rag_pipelines_spark.operators.retrieval import (
            bm25_scores,
            corpus_stats,
            topk_per_query,
        )

        spark = self.ctx.spark
        stats = corpus_stats(spark, os.path.join(self.root, "stats"))
        docs = spark.read.parquet(os.path.join(self.root, "corpus"))
        queries = spark.createDataFrame(SERVE_QUERIES, "query_id int, query_text string")
        qterms = spark.createDataFrame(
            [(q, t) for q, text in SERVE_QUERIES for t in dict.fromkeys(text.split())],
            "query_id int, term string",
        )
        return topk_per_query(
            bm25_scores(docs, queries, corpus_stats=stats, qterms=qterms), 10
        ).collect()

    def op(self, i: int, tr) -> Op:
        from rag_pipelines_spark.streaming.incremental import continuous_ingest_pipeline

        batch, epoch = self.batches[self.next], self.next
        self.next += 1
        published = os.path.join(self.ctx.work, "published", f"batch-{epoch:04d}")
        bytes_before = _du(self.root)
        self.fold_s = 0.0
        land = time.perf_counter()
        self._publish(i, self.ctx.spark.read.parquet(batch["path"]), published, tr)
        with _span(tr, "sources.land_batch", i):
            self._land(published, epoch)
        self.landed_bytes += batch["bytes"]
        t_start = time.time()
        q = continuous_ingest_pipeline(
            self.ctx.spark, self.landing, INGEST_SCHEMA, self.root, self.ckpt,
            hll_item_col="doc_id", countmin_width=256,
        )
        q.awaitTermination(150)
        commit = time.perf_counter()
        t_commit = time.time()
        if q.isActive:
            q.stop()
            raise RuntimeError("ingest trigger did not finish within 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"ingest query failed: {q.exception()}")
        with _span(tr, "state.serve", i):
            top, serve_s = _timed(self._serve)
        wall = time.perf_counter() - land

        problems = self._check(published, batch, epoch, top)
        samples = {"batch_commit_s": commit - land, "serve_s": serve_s}
        layers = {}
        if tr is not None:
            progress = [p for p in q.recentProgress if p.get("batchId") == epoch]
            dur = [p["durationMs"] for p in progress]
            first = min((_progress_start(p) for p in progress), default=t_start)
            tr.add_span("streaming.trigger", i, t_start, t_commit, group=str(q.runId))
            layers = {
                f"{name}_s": tr.self_time(i, name)
                for name in ("sources.parse_html", "sources.fetch_enrich",
                             "operators.cleaning.clean", "sources.write_jsonl")
            }
            layers.update({
                "sources.jsonl_bytes": _du(published),
                "streaming.query_start_s": first - t_start,
                "streaming.trigger_s": sum(d.get("triggerExecution", 0) for d in dur) / 1000,
                "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000,
                "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1000,
                "state.fold_s": self.fold_s,
                "state.serve_s": serve_s,
                "state.bytes_written": max(_du(self.root) - bytes_before, 0),
                "state.versions": len(glob.glob(os.path.join(self.root, "*", "v-*"))),
            })
        shutil.rmtree(published, ignore_errors=True)
        return Op(wall, problems, samples, layers)

    def _check(self, published: str, batch: dict, epoch: int, top) -> list[str]:
        from rag_pipelines_spark.operators.state import max_committed_epoch

        ids, lines = set(), 0
        for part in glob.glob(os.path.join(published, "part-*")):
            with open(part, encoding="utf-8") as f:
                for line in f:
                    lines += 1
                    ids.add(json.loads(line)["rag_id"])
        expected = batch["expected_new"]
        problems = []
        if ids != expected:
            problems.append(
                f"published rag_id set differs: {len(ids - expected)} unexpected, "
                f"{len(expected - ids)} missing"
            )
        if lines != len(expected):
            problems.append(f"JSONL has {lines} lines, expected {len(expected)}")
        seen_path = os.path.join(self.root, "seen")
        if max_committed_epoch(seen_path) != epoch:
            problems.append(f"epoch {epoch} has no seen-commit marker")
        seen = self.ctx.spark.read.parquet(seen_path).count()
        if seen != batch["published_so_far"]:
            problems.append(f"{seen} seen keys, {batch['published_so_far']} distinct docs sent")
        per_query: dict[int, int] = {}
        for r in top:
            per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
        if not per_query or max(per_query.values()) > 10:
            problems.append(f"serve read returned {per_query} rows per query")
        return problems

    def summary(self) -> dict:
        return {"state_bytes_per_input_byte": _du(self.root) / max(self.landed_bytes, 1)}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# cheap relational, event and retrieval reads
QUERIES = (
    "q_tpch_q1", "q_tpch_q3", "q_group_count", "q_topk", "q_agg_stats",
    "q_window_rank", "q_session_agg", "q_bm25_topk",
)
# the composed pretraining lifecycle and exact substring dedup
LIFECYCLE = ("q_pretraining_prep_checksum", "q_substring_dedup")


class QueryMix(Workload):
    """One pass over ten registered queries, each result collected and
    compared with its DuckDB oracle. A traced pass runs the same queries,
    each under a span, then, outside the measured pass, times the
    pretraining pipeline's layers one by one (`pretraining_prep_pipeline`
    with its stages persisted, its default)."""

    name = "query_mix"
    SCALE = 0.01  # x sf1 row counts (sf1 lineitem ~6M rows)
    DOCS = 2_500

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        # warm-up queries and the DuckDB oracle, all outside any timed region
        self._pool = ThreadPoolExecutor(max_workers=5)

    def prepare(self) -> dict:
        from rag_pipelines_spark.registry import load_all

        spark = self.ctx.spark
        self.data = os.path.join(self.ctx.work, "data")
        self.facts = gen.corpus_docs(spark, self.ctx.seed, self.data, self.DOCS)
        reg = load_all()
        self.queries = {n: reg[n] for n in QUERIES + LIFECYCLE}
        # the two corpus queries, the slowest to warm up, start while the
        # relational tables are written
        self._warm = {n: self._pool.submit(self._result_hash, self.queries[n]) for n in LIFECYCLE}
        rows = gen.relational_tables(spark, self.ctx.seed, self.data, self.SCALE)
        # the oracle hashes; the first check waits for them
        self.oracle = self._pool.submit(self._oracle_hashes)
        self.docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        return {"scale": self.SCALE, "rows": rows | {"documents": self.facts["docs"]},
                "planted": self.facts["roles"]}

    def _oracle_hashes(self) -> dict:
        con = duckdb.connect()
        try:
            for t in os.listdir(self.data):
                src = os.path.join(self.data, t, "*.parquet")
                con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM '{src}'")
            return {n: vhash(con.sql(q.oracle).df()) for n, q in self.queries.items()}
        finally:
            con.close()

    def close(self) -> None:
        self._pool.shutdown(wait=True, cancel_futures=True)

    def _result_hash(self, q):
        return vhash(q.fn(self.ctx.spark, self.data).toPandas())

    def warm_up(self) -> Op:
        """Every query once, several at a time on the pool: the same plans
        compile and warm the JVM as in a serial pass, in about half the
        wall time. The corpus queries started during `prepare`."""
        t0 = time.perf_counter()
        warm = self._warm | {
            n: self._pool.submit(self._result_hash, q)
            for n, q in self.queries.items() if n not in self._warm
        }
        got = {n: f.result() for n, f in warm.items()}
        oracle = self.oracle.result()
        problems = [f"{n}: hash differs from the oracle" for n, h in got.items() if h != oracle[n]]
        return Op(time.perf_counter() - t0, problems)

    def op(self, i: int, tr) -> Op:
        lat, calls, got = {}, {}, {}
        for name, q in self.queries.items():
            with _span(tr, f"queries.{name}", i):
                calls[name] = time.time()
                pdf, lat[name] = _timed(lambda q=q: q.fn(self.ctx.spark, self.data).toPandas())
            got[name] = vhash(pdf)
        oracle = self.oracle.result()
        problems = [
            f"{n}: {h[1]} rows, oracle {oracle[n][1]} rows, hashes differ"
            for n, h in got.items() if h != oracle[n]
        ]
        wall = sum(lat.values())
        geomean = math.exp(sum(math.log(v) for v in lat.values()) / len(lat))
        layers = {}
        if tr is not None:
            plan = []
            for s in tr.op_spans(i):
                first = tr.first_job_submit(s["group"])
                query = s["name"].removeprefix("queries.")
                if query in calls and first is not None:
                    plan.append(max(first - calls[query], 0.0))
            layers.update({f"queries.{n}_s": v for n, v in lat.items()})
            layers["queries.plan_s"] = sum(plan)
            layers["operators.substrdedup.substring_dedup_s"] = lat["q_substring_dedup"]
            res, counts = self._lifecycle_layers(i, tr)
            problems += self._check_stages(counts)
            layers.update(self._counters(i, tr, res, counts))
        return Op(wall, problems, {"query_geomean_s": geomean}, layers)

    def _lifecycle_layers(self, i: int, tr):
        """The pretraining pipeline run layer by layer, outside the
        measured pass: each persisted stage, then packing, then the
        stage-count ledger."""
        from rag_pipelines_spark.plans.pretraining import pretraining_prep_pipeline

        bench = self.docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        res = pretraining_prep_pipeline(self.docs, bench)
        with tr.span("operators.dedup.line_dedup", i, measured=False):
            res.persisted[0].count()
        with tr.span("operators.dedup.minhash_bands", i, measured=False):
            res.persisted[1].count()
        with tr.span("operators.packing.pack", i, measured=False):
            # an aggregate over the packing layout, so the window runs
            res.packed.agg(F.sum("seq_start")).collect()
        with tr.span("plans.pretraining.stage_counts", i, measured=False):
            counts = {r["stage"]: r["n_docs"] for r in res.stage_counts.collect()}
        return res, counts

    def _check_stages(self, counts: dict) -> list[str]:
        """Stage counts against the planted structure."""
        roles, n = self.facts["roles"], self.facts["docs"]
        expect = {"0_input": n, "1_quality": n - roles.get("short", 0)}
        expect["2_line_dedup"] = expect["1_quality"] - roles.get("exact", 0)
        problems = [
            f"stage {stage}: {counts.get(stage)} docs, planted {want}"
            for stage, want in expect.items() if counts.get(stage) != want
        ]
        # banding is probabilistic: it must catch nearly every planted near
        # duplicate; on the 31-word gen_sf vocabulary it also drops other
        # docs as false positives (the oracle pins the exact outcome)
        near_removed = counts["2_line_dedup"] - counts["3_near_dedup"]
        if near_removed < roles.get("near", 0) * 0.95:
            problems.append(f"near dedup removed {near_removed}, planted {roles.get('near', 0)}")
        dropped = counts["3_near_dedup"] - counts["4_decontaminated"]
        if dropped < roles.get("contam", 0):
            problems.append(f"decontamination dropped {dropped}, planted {roles.get('contam', 0)}")
        return problems

    def _counters(self, i: int, tr, res, counts: dict) -> dict:
        """Dedup counters of the layer-by-layer pipeline run, then unpersist it."""
        try:
            n1, n2, n3 = counts["1_quality"], counts["2_line_dedup"], counts["3_near_dedup"]
            lined, deduped = res.persisted
            changed = (
                self.docs.select("doc_id", F.col("text").alias("_orig"))
                .join(lined, "doc_id")
                .filter(F.col("_orig") != F.col("text"))
                .count()
            )
            removed = {
                r[0] for r in lined.select("doc_id").subtract(deduped.select("doc_id")).collect()
            }
        finally:
            res.unpersist()
        layers = {
            f"{name}_s": tr.self_time(i, name)
            for name in ("operators.dedup.line_dedup", "operators.dedup.minhash_bands",
                         "operators.packing.pack")
        }
        layers.update({
            # docs whose text line dedup changed or emptied
            "operators.dedup.affected_frac": (changed + n1 - n2) / n1 if n1 else 0.0,
            # docs line dedup and near dedup dropped
            "operators.dedup.removed_frac": (n1 - n3) / n1 if n1 else 0.0,
            # banding removals that are planted near duplicates
            "operators.dedup.verified_per_candidate": (
                len(removed & self.facts["near_ids"]) / len(removed) if removed else 0.0
            ),
        })
        return layers


WORKLOADS = {w.name: w for w in (RagIngest, QueryMix)}
