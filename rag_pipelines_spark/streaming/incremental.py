"""Incremental delta processing (T1/T2/T5) — Structured Streaming replaces
the watcher's schedule-loop + master-Excel state.

Two delta paths (SURVEY §7 phase 5):

(a) streaming: `continuous_ingest_pipeline` — file source + foreachBatch;
    the front door anti-joins arrivals against per-epoch seen-key dirs
    that only a commit marker makes visible, then folds every state
    family, exactly once across crashes and replays (ref:
    fda_watcher.py:373-416 initial/delta modes; the Excel becomes
    marker-committed parquet state; T5 resume = checkpoint replay).

(b) batch: `plans/pipelines.py::watcher_pipeline` — one run that
    anti-joins the scraped rows against the master frame.

State-store forms: `q_stream_dedup` (queries/streaming.py: stateful
dropDuplicates + checkpoint over `available_now_parquet`) and
`session_windowed_query` (watermarked event-time aggregation; late data
dropped past the watermark).

Bounding dedup state: plain dropDuplicates keeps one state entry per
distinct key forever — fine for availableNow runs over a bounded
keyspace. A resident query over an unbounded keyspace either bounds the
store with `withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)`
(a key is kept only until the watermark passes its timestamp, so state
is O(keys per watermark window); a duplicate arriving after its twin
expired is re-admitted, the same contract as watermarked aggregation's
late-data drop), or uses the disk-state anti-join front door of
`continuous_ingest_pipeline` below when re-admission is unacceptable.

The scheduler's daily 09:00 trigger (scheduler.py:19,102-123) maps to
`trigger(availableNow=True)` under cron, or processingTime for a resident
query — pacing knobs via maxFilesPerTrigger (T3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def available_now_parquet(
    df: DataFrame, checkpoint: str, sink_path: str, queryName: str
) -> StreamingQuery:
    """Start `df` as an append-mode availableNow query into a parquet
    sink at `sink_path` (read it back after awaitTermination)."""
    return (
        df.writeStream.format("parquet")
        .queryName(queryName)
        .outputMode("append")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _file_stream(spark: SparkSession, source_dir: str, schema,
                 glob: str = "*.parquet"):
    """Shared file-source reader: schema'd parquet stream with name-glob
    scoping and T3 pacing (maxFilesPerTrigger, ref: fda_watcher.py:54-55).
    One definition so pacing/glob semantics can't drift between the
    streaming entry points (the round-4 glob bug had to be fixed once
    per copy)."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )


def session_windowed_query(
    events: DataFrame,
    checkpoint: str,
    *,
    key_col: str = "user_id",
    time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    sink_path: str,
    queryName: str = "session_windows",
) -> StreamingQuery:
    """Watermarked SESSION windows, true streaming (declared §2.9 — the
    streaming twin of q_session_agg, which checks session_window
    semantics in batch; ref fda_watcher.py has no event-time notion at
    all, its cron tick is processing time).

    Session windows are the one MERGING window state: a new event can
    fuse two open sessions, so the store keeps per-key open sessions
    until the event-time watermark passes a session's end (start-gap
    sessions whose end < watermark can never grow — emitted once,
    state EVICTED). Append mode therefore emits each closed session
    exactly once; events older than the watermark are dropped, which
    bounds state at O(open sessions per watermark horizon) — the
    property that makes per-user sessionization feasible on a
    100 TB/day event stream. Emission equality vs the batch
    lag-gap-cumsum oracle and the no-re-emit/eviction behavior are
    pinned in tests/test_pipelines.py::TestStreamingSessionWindows.
    """
    agg = (
        events.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return available_now_parquet(agg, checkpoint, sink_path, queryName)


def continuous_ingest_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    root: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    rollup_keys: tuple[str, ...] = ("lang",),
    rollup_measures: dict | None = None,
    glob: str = "*.parquet",
    freq_m: int | None = None,
    hll_item_col: str | None = None,
    kmv_item_col: str | None = None,
    countmin_width: int | None = None,
    countmin_depth: int = 4,
    ann_k_seeds: int | None = None,
    kmeans_k: int | None = None,
    pca_moments: bool = False,
    seen_bloom_m_bits: int | None = None,
    lm_gate: bool = False,
    dsir_target=None,
    dsir_n_buckets: int = 10_000,
    drift_gate: bool = False,
    bpe_vocab: bool = False,
    bpe_max_word_len: int = 32,
    _crash_after: str | None = None,
):
    """The reference's watcher as ONE streaming job maintaining EVERY
    state family per micro-batch (the round-4 composition):

        exact-delta front door (anti-join vs COMMITTED ``<root>/seen`` epochs)
          -> near-dup filter   (manifest state, ``<root>/neardup``)
          -> corpus-stats merge (BM25 df/avgdl,  ``<root>/stats``)
          -> rollup merge       (keyed partials,  ``<root>/rollup``)
          -> accepted corpus    (``<root>/corpus/epoch=N``, overwrite)
          -> seen-keys epoch dir (``<root>/seen/epoch=N``, overwrite)
          -> seen commit marker  (COMMIT POINT, one fsync'd file, last)

    Exactly-once across families (single-writer): Structured Streaming
    replays a failed micro-batch with the same epoch_id and data, and
    every step is epoch-idempotent —

    * the near-dup state tags its rows with the epoch, excludes the
      current epoch from collision checks, and marker-commits its key
      append, so a replay reproduces the SAME ``clean`` set;
    * corpus-stats / rollup merges skip epochs already recorded in their
      live version (operators/state.py::applied_epoch);
    * the corpus write is a per-epoch partition overwrite;
    * the seen keys land in a PER-EPOCH partition dir and the anti-join
      reads only epochs with a commit marker
      (operators/state.py::mark_epoch_committed). A raw append with
      row-presence semantics would be wrong here: parquet job commits
      rename task files one by one, so a crash mid-commit leaves a
      PARTIAL key set visible, the replayed batch would compute a
      strictly smaller delta, and the corpus/epoch=N overwrite would
      rewrite the partition with only the residual docs — silently
      dropping accepted documents whose stats/rollup contributions stay
      counted. With epoch dirs + markers, an uncommitted epoch is
      invisible to the anti-join (the replay recomputes the identical
      full delta and idempotently overwrites), and the marker — a
      single fsync'd file, atomically visible — is the true commit
      point. A crash after it makes the replay delta empty, correct
      because every family already committed. ``seen`` stores ONLY the
      key column (the epoch is a partition dir name, not data) — at
      corpus scale it stays keys-sized, not text-sized.

    A checkpoint RESET against existing state (epoch counters restart,
    so the front door no longer masks replays) is detected by the
    near-dup state's committed-epoch guard, which raises before any
    state family is touched — loud failure, not double-count.

    Optional sketch families, same epoch-guarded exactly-once contract:
    `freq_m` maintains a per-`rollup_keys` Misra-Gries frequent-terms
    sketch over the accepted docs' whitespace tokens
    (``<root>/freq``, operators/freqsketch.py), `hll_item_col`
    maintains a per-`rollup_keys` HLL distinct-count sketch over that
    column (``<root>/hll``, operators/hllsketch.py), `kmv_item_col`
    a per-`rollup_keys` KMV sketch (``<root>/kmv``, operators/kmv.py —
    the oracle-checkable distinct/intersection tier), and
    `countmin_width` a per-`rollup_keys` Count-Min sketch over the
    docs' whitespace tokens (``<root>/countmin``, operators/cmsketch.py
    — fixed-space point-frequency estimates for ANY item, the
    complement of the freq sketch's top-k), and `drift_gate` a KL
    distribution-drift score per epoch (``<root>/drift`` bucket state +
    ``<root>/driftscore/epoch=N`` rows, operators/drift.py — each batch
    scored against the state BEFORE it folds in, the score-before-
    ingest discipline of the lm/dsir gates). All these merges
    skip already-applied epochs, so they slot between the rollup merge
    and the corpus write without changing the crash-recovery argument —
    the crash matrix drills them too.

    `ann_k_seeds` embeds every ACCEPTED doc (hashed-BoW dense vectors,
    operators/embedding.py — deterministic, no model download) and folds
    the postings into the frozen-centroid ANN index state
    (``<root>/ann``, operators/annstate.py): seeds freeze on the first
    non-empty batch, appends are marker-committed, a replayed epoch
    skips — accepted content becomes similarity-searchable in the same
    exactly-once epoch that admitted it ('ann' crash point drills it).

    `lm_gate` maintains the CCNet-style bigram-LM quality tier
    (``<root>/lm`` + per-epoch scores in ``<root>/lmscore``,
    operators/lm.py): every accepted batch is scored against the model
    ACCRETED SO FAR (score-before-ingest — epoch 0 scores against the
    empty model, familiarity 0), the scores land in an idempotent
    per-epoch partition overwrite, and only then do the batch's bigram
    counts fold into the rollup-backed model state. Replay safety needs
    one extra rule the other families don't: scoring is NOT
    re-executable once the merge committed (the model would then
    contain the batch itself and produce different scores), so the
    WHOLE block — score write + merge — is guarded by the lm state's
    applied-epoch check; the score write precedes the merge, so a
    skipped replay always finds the scores already on disk.

    `dsir_target` (a static curated-docs DataFrame with `id_col` and
    `text_col`) maintains the DSIR importance-weight tier (``<root>/
    dsir`` raw-side bucket counts + per-epoch scores in
    ``<root>/dsirscore``, operators/dsir.py): the target-side hashed
    n-gram distribution is computed ONCE from `dsir_target` and FROZEN
    into ``<root>/dsirtarget`` (the annstate frozen-seeds discipline);
    every accepted batch is scored (logw = sum ln p_t/p_r over its
    features) against the frozen target and the raw counts ACCRETED SO
    FAR (score-before-ingest — epoch 0 scores against the empty raw
    distribution), then the batch's own bucket counts fold into the
    raw state. Same replay rule as lm_gate: score write + merge are
    one epoch-guarded unit because re-scoring after the merge would
    see a raw distribution that already contains the batch.

    `kmeans_k` maintains the incremental k-means centroid state
    (``<root>/kmeans``, operators/kmeansstate.py): cluster identity
    freezes with the first non-empty batch's hash-min seeds (the
    annstate discipline), each accepted batch assigns against those
    frozen seeds with zero-shuffle literal math and folds
    per-(cluster, dim) decimal sums + member counts into rollup state —
    the served centroid is the exact mean of everything ingested so
    far, bit-identical to a one-shot recompute however history was
    batched; replays skip via merge_rollup's epoch guard ('kmeans'
    crash point drills it).

    `pca_moments` maintains the incremental-PCA moment state
    (``<root>/pca``, operators/pcastate.py): each accepted batch's
    hashed-BoW embeddings fold their exact decimal first/second moments
    into rollup state — d(d+1)/2 + d rows, PCA's sufficient statistics —
    so the covariance, top component, and projections are servable at
    any time without re-reading history ('pca' crash point).

    `bpe_vocab` maintains the BPE tokenizer-training vocabulary state
    (``<root>/bpevocab``, the 12th family): each accepted batch's
    whitespace word counts (words past `bpe_max_word_len` excluded, the
    operators/bpe.py contract) fold into rollup state — word
    frequencies are exactly mergeable, so merge learning
    (operators/bpe.py::learn_bpe_merges, which only ever reads the
    vocabulary frame) serves the bitwise-same merge table as a one-shot
    corpus recompute without re-reading history text ('bpe' crash
    point drills it; q_bpe_from_state is the oracle-checked serve).

    `seen_bloom_m_bits` accretes a bloom over the seen keys
    (``<root>/bloomseen``, operators/bloomfilter.py::merge_bloom) and
    uses it to PREFILTER the front-door anti-join: probed-definitely-new
    rows skip the seen-keys join entirely; only maybe-seen rows verify
    against the marker-committed key set, so the delta stays EXACT while
    the join input shrinks to |dups| + fpp*|batch|. Ordering is the
    correctness argument: the bloom merges BEFORE the seen marker, so a
    crash can only leave the bloom OVER-covering (extra verify work),
    never under-covering (which would admit a silent duplicate) — the
    'seen_bloom' crash point drills exactly that window.

    `_crash_after` is FAULT INJECTION for the crash-matrix drill
    (tests/test_continuous_ingest.py): naming a step makes process()
    raise immediately after that step's commit, failing the query so a
    restart replays the epoch through the real checkpoint machinery.
    Production callers leave it None.
    """
    from rag_pipelines_spark.operators.dedup import incremental_neardup
    from rag_pipelines_spark.operators.retrieval import merge_corpus_stats
    from rag_pipelines_spark.operators.rollup import merge_rollup

    measures = rollup_measures or {"n_chars": ["count", "sum", "min", "max"]}
    stream = _file_stream(spark, source_dir, schema, glob)
    seen_path = os.path.join(root, "seen")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from rag_pipelines_spark.operators.rollup import read_rollup
        from rag_pipelines_spark.operators.state import (
            epoch_already_applied,
            mark_epoch_committed,
            max_committed_epoch,
        )

        s = batch_df.sparkSession
        delta = batch_df.dropDuplicates([id_col])
        # the anti-join sees only marker-committed epochs: epochs commit in
        # order, so one partition-prunable range predicate covers them all;
        # a crashed epoch's partial files are planned away, never read
        done_max = max_committed_epoch(seen_path)
        if done_max is not None:
            seen_keys = s.read.parquet(seen_path).filter(
                F.col("epoch") <= done_max
            ).select(id_col)
            words = state_params = None
            if seen_bloom_m_bits is not None:
                from rag_pipelines_spark.operators.bloomfilter import (
                    bloom_probe,
                    bloom_state_params,
                    read_bloom_words,
                )

                words = read_bloom_words(s, os.path.join(root, "bloomseen"))
                if words is not None:
                    # probe with the STATE's own (m_bits, k) — a caller-
                    # remembered value could diverge after a config change
                    # and produce false negatives (= silent duplicates);
                    # merge_bloom separately refuses mismatched merges
                    state_params = bloom_state_params(words)
            if words is not None and state_params is not None:
                # bloom front door: definitely-new rows skip the seen join;
                # maybe-seen rows verify exactly. The bloom can only OVER-
                # cover the committed keys (merge precedes the marker), so
                # the split is never wrong — see docstring.
                probed = bloom_probe(
                    delta, words, id_col, state_params[0], state_params[1]
                )
                definite = probed.filter(~F.col("_bfmaybe")).drop("_bfmaybe")
                maybe = probed.filter(F.col("_bfmaybe")).drop("_bfmaybe")
                verified = maybe.join(seen_keys, id_col, "left_anti")
                delta = definite.unionByName(
                    verified.select(*definite.columns)
                )
            else:
                delta = delta.join(seen_keys, id_col, "left_anti")
        delta = delta.localCheckpoint(eager=True)
        if not delta.take(1):  # fully-replayed or all-seen batch: no-op
            return

        def crash(step: str) -> None:
            if _crash_after == step:
                raise RuntimeError(f"injected crash after step {step!r}")

        def _score_then_fold(name, what, ref_schema, part, score):
            """Score-before-ingest gate: score the batch against the
            ``<root>/<name>`` rollup state as it stood BEFORE this batch
            (an empty ``ref_schema`` frame on epoch 0), overwrite
            ``<root>/<name>score/epoch=N``, then fold ``part()`` in. One
            guard for the WHOLE block: once the fold committed, re-scoring
            would see a reference that already contains this batch, so
            score + fold replay as a unit or not at all (see docstring)."""
            path = os.path.join(root, name)
            if epoch_already_applied(path, what, epoch_id):
                return
            frame = part()
            empty = s.createDataFrame([], ref_schema)
            *keys, cnt = empty.columns
            try:
                ref = read_rollup(s, path).select(
                    *keys, F.col(f"count_{id_col}").alias(cnt)
                )
            except FileNotFoundError:  # epoch 0: empty reference
                ref = empty
            score(frame, ref).write.mode("overwrite").parquet(
                os.path.join(root, f"{name}score", f"epoch={epoch_id}")
            )
            merge_rollup(
                s, frame, path, keys=keys, measures={id_col: ["count"]},
                epoch=epoch_id,
            )

        crash("delta")
        clean = incremental_neardup(
            s, delta, os.path.join(root, "neardup"), id_col, text_col,
            epoch=epoch_id,
        )
        crash("neardup")
        merge_corpus_stats(
            s, clean, os.path.join(root, "stats"), text_col=text_col,
            epoch=epoch_id,
        )
        crash("stats")
        merge_rollup(
            s,
            clean,
            os.path.join(root, "rollup"),
            keys=list(rollup_keys),
            measures=measures,
            epoch=epoch_id,
        )
        crash("rollup")
        if freq_m is not None:
            from rag_pipelines_spark.operators.freqsketch import merge_freq

            toks = clean.select(
                *rollup_keys,
                F.explode(F.split(F.col(text_col), " ")).alias("term"),
            )
            merge_freq(
                s, toks, os.path.join(root, "freq"),
                keys=list(rollup_keys), item_col="term", m=freq_m,
                epoch=epoch_id,
            )
            crash("freq")
        if hll_item_col is not None:
            from rag_pipelines_spark.operators.hllsketch import merge_hll

            merge_hll(
                s, clean, os.path.join(root, "hll"),
                keys=list(rollup_keys), item_col=hll_item_col,
                epoch=epoch_id,
            )
            crash("hll")
        if kmv_item_col is not None:
            from rag_pipelines_spark.operators.kmv import merge_kmv

            merge_kmv(
                s, clean, os.path.join(root, "kmv"),
                keys=list(rollup_keys), item_col=kmv_item_col,
                epoch=epoch_id,
            )
            crash("kmv")
        if countmin_width is not None:
            from rag_pipelines_spark.operators.cmsketch import merge_cm

            cm_toks = clean.select(
                *rollup_keys,
                F.explode(F.split(F.col(text_col), " ")).alias("term"),
            )
            merge_cm(
                s, cm_toks, os.path.join(root, "countmin"),
                keys=list(rollup_keys), item_col="term",
                depth=countmin_depth, width=countmin_width,
                epoch=epoch_id,
            )
            crash("countmin")
        if lm_gate:
            from rag_pipelines_spark.operators.lm import bigrams, familiarity

            _score_then_fold(
                "lm", "lm bigram state", "w1 string, w2 string, c12 bigint",
                lambda: clean.select(
                    F.col(id_col), F.explode(bigrams(text_col)).alias("p")
                ).select(id_col, "p.w1", "p.w2"),
                lambda pairs, model: familiarity(
                    clean, model, text_col=text_col, id_col=id_col
                ),
            )
            crash("lm")
        if dsir_target is not None:
            from rag_pipelines_spark.operators.dsir import (
                dsir_score_against,
                hashed_ngram_features,
            )
            from rag_pipelines_spark.operators.state import live_version_dir

            tgt_path = os.path.join(root, "dsirtarget")
            # frozen target distribution: written once, never accreted
            # (live-version check, not an epoch guard — any later epoch
            # must NOT fold more data into the curated side)
            if live_version_dir(tgt_path, what="rollup state") is None:
                merge_rollup(
                    s,
                    hashed_ngram_features(
                        dsir_target, id_col, text_col, dsir_n_buckets
                    ),
                    tgt_path,
                    keys=["bucket"],
                    measures={id_col: ["count"]},
                    epoch=0,
                )

            def dsir_score(feats, raw):
                tgt = read_rollup(s, tgt_path).select(
                    "bucket", F.col(f"count_{id_col}").alias("ct")
                )
                return dsir_score_against(
                    feats, raw, tgt, id_col, n_buckets=dsir_n_buckets
                )

            _score_then_fold(
                "dsir", "dsir raw state", "bucket bigint, cr bigint",
                lambda: hashed_ngram_features(
                    clean, id_col, text_col, dsir_n_buckets
                ),
                dsir_score,
            )
            crash("dsir")
        if drift_gate:
            from rag_pipelines_spark.operators.drift import kl_against
            from rag_pipelines_spark.operators.dsir import (
                hashed_ngram_features,
            )

            _score_then_fold(
                "drift", "drift bucket state", "bucket bigint, cnt bigint",
                lambda: hashed_ngram_features(
                    clean, id_col, text_col, 10_000
                ).localCheckpoint(eager=True),  # score + fold consume it
                lambda feats, ref: kl_against(
                    feats.groupBy("bucket").agg(F.count("*").alias("cnt")),
                    ref,
                    n_buckets=10_000,
                ).select(
                    F.lit(epoch_id).cast("long").alias("epoch"),
                    "occupied",
                    "kl",
                ),
            )
            crash("drift")
        if ann_k_seeds is not None or kmeans_k is not None or pca_moments:
            from rag_pipelines_spark.operators.embedding import (
                hashed_bow_embedding,
            )

            emb = hashed_bow_embedding(
                clean, id_col=id_col, text_col=text_col, dim=64
            )
        if ann_k_seeds is not None:
            from rag_pipelines_spark.operators.annstate import merge_ann_index

            merge_ann_index(
                s, emb, os.path.join(root, "ann"), id_col, "embedding",
                k_seeds=ann_k_seeds, epoch=epoch_id,
            )
            crash("ann")
        if kmeans_k is not None:
            from rag_pipelines_spark.operators.kmeansstate import (
                merge_kmeans_state,
            )

            merge_kmeans_state(
                s, emb, os.path.join(root, "kmeans"), id_col, "embedding",
                k=kmeans_k, epoch=epoch_id,
            )
            crash("kmeans")
        if pca_moments:
            from rag_pipelines_spark.operators.pcastate import (
                merge_pca_moments,
            )

            merge_pca_moments(
                s, emb, os.path.join(root, "pca"), epoch=epoch_id
            )
            crash("pca")
        if bpe_vocab:
            words = clean.select(
                F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
            ).filter(
                (F.col("word") != "")
                & (F.length("word") <= bpe_max_word_len)
            )
            merge_rollup(
                s, words, os.path.join(root, "bpevocab"),
                keys=["word"], measures={"word": ["count"]},
                epoch=epoch_id,
            )
            crash("bpe")
        # per-epoch partition overwrite: replaying rewrites the same files
        clean.write.mode("overwrite").parquet(
            os.path.join(root, "corpus", f"epoch={epoch_id}")
        )
        crash("corpus")
        # seen keys: per-epoch dir (idempotent overwrite), then the COMMIT
        # POINT — one fsync'd marker file, atomically visible, written only
        # after the key write's job commit returned (see docstring)
        delta.select(id_col).write.mode("overwrite").parquet(
            os.path.join(seen_path, f"epoch={epoch_id}")
        )
        crash("seen_keys")
        if seen_bloom_m_bits is not None:
            from rag_pipelines_spark.operators.bloomfilter import merge_bloom

            # MUST precede the marker: a crash in between leaves the bloom
            # over-covering (safe); the reverse window would under-cover
            merge_bloom(
                s, delta.select(id_col), os.path.join(root, "bloomseen"),
                key=id_col, m_bits=seen_bloom_m_bits, epoch=epoch_id,
            )
            crash("seen_bloom")
        mark_epoch_committed(seen_path, epoch_id)
        crash("seen_marker")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
