"""End-to-end test of the composed continuous-ingest pipeline
(streaming/incremental.py::continuous_ingest_pipeline): one streaming job
maintains the seen-keys front door, near-dup state, BM25 corpus stats,
and the keyed rollup — a full replay (fresh checkpoint) changes nothing
in any state family, and the epoch guards make each additive merge
individually idempotent (the exactly-once contract)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from rag_pipelines_spark.streaming.incremental import continuous_ingest_pipeline

# Fsync-bound slow partition (tools/slow_tests.txt): deselected by the
# default `-m "not slow"` addopts; run via tools/run_slow_suite.sh.
# Naming this file explicitly still selects nothing without `-m slow`
# (e.g. `pytest -m slow tests/test_continuous_ingest.py`).
pytestmark = pytest.mark.slow

SCHEMA = StructType(
    [
        StructField("doc_id", IntegerType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("n_chars", IntegerType()),
    ]
)

BASE_A = "spark join order data table scan window agg batch line " * 8
BASE_B = "customer supplier part region nation stream merge sort key value " * 8


def _rows():
    # batch 1: three distinct docs (distinct BASES — a shared long prefix
    # would make docs 1 and 3 near-dups of each other)
    b1 = [
        (1, BASE_A + "alpha beta gamma", "en", 100),
        (2, "completely different tiny text", "de", 30),
        (3, BASE_B + "delta epsilon zeta", "en", 110),
    ]
    # batch 2: one exact-key dup (doc 1), one near-dup of doc 3 (tiny
    # mutation), one genuinely new doc
    b2 = [
        (1, BASE_A + "alpha beta gamma", "en", 100),
        (4, BASE_B + "delta epsilon zeta !", "en", 111),
        (5, "another unrelated short document entirely", "fr", 41),
    ]
    return b1, b2


# DSIR curated target set: FIXED rows (the frozen-target discipline
# requires the same curated frame on every pipeline build/replay)
DSIR_TARGET_ROWS = [
    (9001, "spark join order data quality curated", "en", 40),
    (9002, "window agg batch quality curated text", "en", 38),
]


def _dsir_target(spark):
    return spark.createDataFrame(DSIR_TARGET_ROWS, SCHEMA)


def _run(spark, src, root, ckpt):
    q = continuous_ingest_pipeline(
        spark, src, SCHEMA, root, ckpt, id_col="doc_id", text_col="text",
        freq_m=100, hll_item_col="doc_id", kmv_item_col="doc_id",
        countmin_width=64,
        ann_k_seeds=2, kmeans_k=2, pca_moments=True,
        seen_bloom_m_bits=1 << 16, lm_gate=True,
        dsir_target=_dsir_target(spark), bpe_vocab=True,
        drift_gate=True,
    )
    q.awaitTermination(120)


def _state_snapshot(spark, root):
    from rag_pipelines_spark.operators.freqsketch import read_freq
    from rag_pipelines_spark.operators.hllsketch import hll_estimate, read_hll
    from rag_pipelines_spark.operators.retrieval import corpus_stats
    from rag_pipelines_spark.operators.rollup import read_rollup

    corpus = {
        r.doc_id for r in spark.read.parquet(f"{root}/corpus").collect()
    }
    terms, totals = corpus_stats(spark, f"{root}/stats")
    stats = (
        {(r.term, r.dfreq) for r in terms.collect()},
        totals.collect()[0].asDict(),
    )
    rollup = {
        r.lang: r.asDict() for r in read_rollup(spark, f"{root}/rollup").collect()
    }
    seen = {
        r.doc_id for r in spark.read.parquet(f"{root}/seen").collect()
    }
    f_items, f_totals = read_freq(spark, f"{root}/freq")
    freq = (
        sorted(map(tuple, f_items.collect())),
        sorted(map(tuple, f_totals.collect())),
    )
    hll = sorted(
        map(tuple, hll_estimate(read_hll(spark, f"{root}/hll"), ["lang"]).collect())
    )
    from rag_pipelines_spark.operators.kmv import read_kmv

    kmv = sorted(
        (r.lang, tuple(r.kmv))
        for r in read_kmv(spark, f"{root}/kmv").collect()
    )
    from rag_pipelines_spark.operators.bloomfilter import read_bloom_words

    bloom = sorted(
        map(
            tuple,
            read_bloom_words(spark, f"{root}/bloomseen")
            .select("w", "bits")
            .collect(),
        )
    )
    # ann family: snapshot the SERVED top-k (crash-window duplicate
    # postings rows are contract-invisible — distinct before ranking —
    # same reason the neardup snapshot is verdicts, not raw key rows)
    from rag_pipelines_spark.operators.annstate import ann_query_from_state
    from rag_pipelines_spark.operators.embedding import hashed_bow_embedding

    probe = hashed_bow_embedding(
        spark.read.parquet(f"{root}/corpus"), id_col="doc_id",
        text_col="text", dim=64,
    )
    ann = sorted(
        (r.q_id, r.c_id, r.cosine, r.rk)
        for r in ann_query_from_state(
            spark, f"{root}/ann", probe, "doc_id", "embedding",
            nprobe=2, k=2,
        ).collect()
    )
    # lm family: accreted bigram-count model + per-epoch score rows
    lm_model = sorted(
        map(tuple, read_rollup(spark, f"{root}/lm").collect())
    )
    lm_scores = sorted(
        (r.epoch, r.doc_id, r.n_bigrams, r.known_bigrams, r.model_hits,
         r.familiarity)
        for r in spark.read.parquet(f"{root}/lmscore").collect()
    )
    # dsir family: accreted raw bucket counts + frozen target counts +
    # per-epoch score-before-ingest rows
    dsir_raw = sorted(
        map(tuple, read_rollup(spark, f"{root}/dsir").collect())
    )
    dsir_tgt = sorted(
        map(tuple, read_rollup(spark, f"{root}/dsirtarget").collect())
    )
    dsir_scores = sorted(
        (r.epoch, r.doc_id, r.n_feats, r.logw)
        for r in spark.read.parquet(f"{root}/dsirscore").collect()
    )
    # kmeans family: frozen seeds + served accreted-mean centroids
    from rag_pipelines_spark.operators.kmeansstate import (
        kmeans_centroids_from_state,
        read_kmeans_seeds,
    )

    km = (
        [(c, tuple(v)) for c, v in read_kmeans_seeds(spark, f"{root}/kmeans")],
        sorted(
            map(
                tuple,
                kmeans_centroids_from_state(spark, f"{root}/kmeans").collect(),
            )
        ),
    )
    # pca family: served round-9 covariance from the accreted moments
    from rag_pipelines_spark.operators.pcastate import (
        pca_covariance_from_state,
    )

    pca = sorted(
        map(
            tuple,
            pca_covariance_from_state(spark, f"{root}/pca").collect(),
        )
    )
    # bpe family: accreted (word, freq) vocabulary state
    bpe = sorted(
        map(tuple, read_rollup(spark, f"{root}/bpevocab").collect())
    )
    # countmin family: the full counter table (bounded at
    # |groups|*depth*width) IS the state — double-applied epochs would
    # show as doubled counts
    from rag_pipelines_spark.operators.cmsketch import read_cm

    cm_counters, cm_geom = read_cm(spark, f"{root}/countmin")
    cm = (cm_geom, sorted(map(tuple, cm_counters.collect())))
    # drift family: accreted bucket counts + per-epoch score-before-
    # ingest rows (a replayed epoch must reproduce the SAME KL — the
    # scores are data, not diagnostics)
    drift_state = sorted(
        map(tuple, read_rollup(spark, f"{root}/drift").collect())
    )
    drift_scores = sorted(
        (r.epoch, r.occupied, r.kl)
        for r in spark.read.parquet(f"{root}/driftscore").collect()
    )
    return (corpus, stats, rollup, seen, freq, hll, kmv, bloom, ann,
            (lm_model, lm_scores), (dsir_raw, dsir_tgt, dsir_scores), km,
            pca, bpe, cm, (drift_state, drift_scores))


def test_continuous_ingest_all_families(spark, tmp_path):
    src = str(tmp_path / "src")
    root = str(tmp_path / "root")
    ckpt = str(tmp_path / "ckpt")
    b1, b2 = _rows()
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, ckpt)
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, ckpt)

    (corpus, stats, rollup, seen, freq, hll, kmv, bloom,
     ann, lm, dsir, km, pca, bpe, cm, drift) = _state_snapshot(spark, root)

    # front door saw every distinct key; exact dup (doc 1 again) blocked
    assert seen == {1, 2, 3, 4, 5}
    # seen stores ONLY the key column; `epoch` is the partition dir name
    # (commit unit), not data — keys-sized at corpus scale
    assert spark.read.parquet(f"{root}/seen").columns == ["doc_id", "epoch"]
    # every seen epoch dir is covered by a commit marker (the anti-join
    # reads nothing uncommitted)
    from rag_pipelines_spark.operators.state import max_committed_epoch

    epochs = {
        r.epoch for r in spark.read.parquet(f"{root}/seen").select("epoch").collect()
    }
    assert max(epochs) <= max_committed_epoch(f"{root}/seen")
    # near-dup filter dropped doc 4 (mutated twin of doc 3)
    assert corpus == {1, 2, 3, 5}
    # corpus stats describe exactly the accepted corpus
    from rag_pipelines_spark.operators.retrieval import batch_corpus_stats

    accepted = spark.read.parquet(f"{root}/corpus")
    terms_d, totals_d = batch_corpus_stats(accepted)
    assert stats[0] == {(r.term, r.dfreq) for r in terms_d.collect()}
    assert stats[1] == totals_d.collect()[0].asDict()
    # rollup matches a direct aggregate over the accepted corpus
    direct = {
        r.lang: r.asDict()
        for r in accepted.groupBy("lang")
        .agg(
            F.count("n_chars").alias("count_n_chars"),
            F.sum(F.col("n_chars").cast("decimal(30,15)"))
            .cast("decimal(30,15)")
            .alias("sum_n_chars"),
            F.min("n_chars").alias("min_n_chars"),
            F.max("n_chars").alias("max_n_chars"),
        )
        .collect()
    }
    assert rollup == direct
    # freq sketch: m=100 >= distinct tokens -> realized err 0 and exact
    # per-(lang, term) counts over the ACCEPTED corpus only
    direct_freq = sorted(
        (r.lang, r.term, int(r.n))
        for r in accepted.select(
            "lang", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted((l, t, int(e)) for l, t, e in freq[0]) == direct_freq
    assert all(int(err) == 0 for _, _, err in freq[1])
    # hll sketch: estimates equal a one-shot sketch over the accepted set
    from rag_pipelines_spark.operators.hllsketch import hll_partial

    direct_hll = sorted(
        map(
            tuple,
            hll_partial(accepted, ["lang"], "doc_id")
            .select("lang", F.hll_sketch_estimate("sketch").alias("n_distinct_est"))
            .collect(),
        )
    )
    assert hll == direct_hll
    # kmv sketch: the accreted state ARRAYS equal a one-shot sketch over
    # the accepted set (merge == one-shot is exact for KMV, not just the
    # estimate)
    from rag_pipelines_spark.operators.kmv import kmv_sketch

    direct_kmv = sorted(
        (r.lang, tuple(r.kmv))
        for r in kmv_sketch(accepted, ["lang"], "doc_id").collect()
    )
    assert kmv == direct_kmv
    # seen-keys bloom: the accreted (w, bits) state equals a one-shot
    # bloom over ALL seen keys (bit_or accretion == one-shot, exactly)
    from rag_pipelines_spark.operators.bloomfilter import bloom_build

    direct_bloom = sorted(
        map(
            tuple,
            bloom_build(
                spark.read.parquet(f"{root}/seen").select("doc_id"),
                "doc_id", 1 << 16, 5,
            ).collect(),
        )
    )
    assert bloom == direct_bloom

    # lm gate: the accreted model equals a one-shot bigram count over the
    # accepted corpus (count is mergeable), and each epoch's scores used
    # only the model as of the PREVIOUS epochs (score-before-ingest):
    # epoch 0 scored against the empty model (familiarity 0.0 for docs
    # with bigrams), epoch 1 against epoch 0's accepted bigrams
    from rag_pipelines_spark.operators.lm import bigrams, familiarity

    lm_model, lm_scores = lm
    direct_model = sorted(
        map(
            tuple,
            accepted.select(F.explode(bigrams("text")).alias("p"))
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("count_doc_id"))
            .collect(),
        )
    )
    assert lm_model == direct_model
    e0 = [r for r in lm_scores if r[0] == 0]
    assert e0 and all(r[3] == 0 and r[4] == 0 for r in e0), (
        "epoch 0 must score against the EMPTY model"
    )
    epoch0_corpus = spark.read.parquet(f"{root}/corpus/epoch=0")
    model0 = (
        epoch0_corpus.select(F.explode(bigrams("text")).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    epoch1_corpus = spark.read.parquet(f"{root}/corpus/epoch=1")
    direct_e1 = sorted(
        (1, r.doc_id, r.n_bigrams, r.known_bigrams, r.model_hits,
         r.familiarity)
        for r in familiarity(epoch1_corpus, model0).collect()
    )
    assert [r for r in lm_scores if r[0] == 1] == direct_e1

    # dsir gate: the accreted raw distribution equals a one-shot feature
    # count over the accepted corpus; the frozen target equals a one-shot
    # count over the curated frame; each epoch scored against the raw
    # state as of the PREVIOUS epochs only (score-before-ingest)
    from rag_pipelines_spark.operators.dsir import (
        dsir_score_against,
        hashed_ngram_features,
    )
    from rag_pipelines_spark.operators.rollup import read_rollup

    dsir_raw, dsir_tgt, dsir_scores = dsir
    direct_raw = sorted(
        map(
            tuple,
            hashed_ngram_features(accepted, "doc_id", "text", 10_000)
            .groupBy("bucket")
            .agg(F.count("*").alias("count_doc_id"))
            .collect(),
        )
    )
    assert dsir_raw == direct_raw
    direct_tgt = sorted(
        map(
            tuple,
            hashed_ngram_features(_dsir_target(spark), "doc_id", "text", 10_000)
            .groupBy("bucket")
            .agg(F.count("*").alias("count_doc_id"))
            .collect(),
        )
    )
    assert dsir_tgt == direct_tgt
    tgt_counts = read_rollup(spark, f"{root}/dsirtarget").select(
        "bucket", F.col("count_doc_id").alias("ct")
    )
    direct_e0 = sorted(
        (0, r.doc_id, r.n_feats, r.logw)
        for r in dsir_score_against(
            hashed_ngram_features(epoch0_corpus, "doc_id", "text", 10_000),
            spark.createDataFrame([], "bucket bigint, cr bigint"),
            tgt_counts,
            "doc_id",
        ).collect()
    )
    assert [r for r in dsir_scores if r[0] == 0] == direct_e0, (
        "epoch 0 must score against the EMPTY raw distribution"
    )
    raw0 = (
        hashed_ngram_features(epoch0_corpus, "doc_id", "text", 10_000)
        .groupBy("bucket")
        .agg(F.count("*").alias("cr"))
    )
    direct_de1 = sorted(
        (1, r.doc_id, r.n_feats, r.logw)
        for r in dsir_score_against(
            hashed_ngram_features(epoch1_corpus, "doc_id", "text", 10_000),
            raw0,
            tgt_counts,
            "doc_id",
        ).collect()
    )
    assert [r for r in dsir_scores if r[0] == 1] == direct_de1

    # kmeans gate: the served accreted-mean centroids equal a ONE-SHOT
    # recompute over the whole accepted corpus under the frozen seeds
    # (N merges == direct, the rollup-state invariance applied to
    # cluster sums)
    from rag_pipelines_spark.operators.clustering import assign_clusters
    from rag_pipelines_spark.operators.embedding import hashed_bow_embedding
    from rag_pipelines_spark.queries._util import dec_to_dbl

    seeds_km, served_km = km
    assert len(seeds_km) <= 2  # k=2 hash-min seeds, frozen
    corpus_emb = hashed_bow_embedding(
        spark.read.parquet(f"{root}/corpus"), id_col="doc_id",
        text_col="text", dim=64,
    )
    direct_km = sorted(
        map(
            tuple,
            assign_clusters(corpus_emb, seeds_km, "doc_id", "embedding")
            .select(
                "cluster", F.posexplode("embedding").alias("pos", "_x")
            )
            .groupBy("cluster", (F.col("pos") + 1).alias("dim"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("_x").cast("double").cast("decimal(30,15)"))
                .cast("decimal(30,15)")
                .alias("_s"),
            )
            .select(
                "cluster", "dim", "n",
                F.round(dec_to_dbl(F.col("_s")) / F.col("n"), 9).alias("c"),
            )
            .collect(),
        )
    )
    assert served_km == direct_km

    # pca gate: the served covariance equals a ONE-SHOT moment recompute
    # over the whole accepted corpus (N merges == direct, again)
    from rag_pipelines_spark.operators.pcastate import _moment_rows, _q9

    direct_m = (
        _moment_rows(corpus_emb, "embedding")
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("p").cast("decimal(30,15)"))
            .cast("decimal(30,15)")
            .alias("s"),
            F.count("*").alias("n"),
        )
    )
    mu_direct = direct_m.filter(F.col("j") == 0).select(
        F.col("i").alias("mi"),
        _q9(dec_to_dbl(F.col("s")) / F.col("n")).alias("m"),
    )
    direct_pca = sorted(
        map(
            tuple,
            direct_m.filter(F.col("j") > 0)
            .join(mu_direct.withColumnRenamed("mi", "ik"), F.col("i") == F.col("ik"))
            .withColumnRenamed("m", "m_i")
            .join(mu_direct.withColumnRenamed("mi", "jk"), F.col("j") == F.col("jk"))
            .withColumnRenamed("m", "m_j")
            .select(
                "i", "j",
                _q9(
                    dec_to_dbl(F.col("s")) / F.col("n")
                    - F.col("m_i") * F.col("m_j")
                ).alias("c"),
            )
            .collect(),
        )
    )
    assert pca == direct_pca

    # bpe gate: the accreted vocabulary equals a one-shot word count over
    # the accepted corpus (counts are mergeable), so the SERVED merge
    # table — a pure function of the vocabulary — is bitwise-identical
    # to a direct recompute
    from rag_pipelines_spark.operators.bpe import learn_bpe_merges, word_vocab
    from rag_pipelines_spark.operators.rollup import read_rollup as _rr

    direct_vocab = sorted(
        map(
            tuple,
            word_vocab(accepted, "text", 32)
            .select("word", F.col("freq").alias("count_word"))
            .collect(),
        )
    )
    assert bpe == direct_vocab
    state_vocab = _rr(spark, f"{root}/bpevocab").select(
        "word", F.col("count_word").alias("freq")
    )
    served_merges, _, _ = learn_bpe_merges(state_vocab, 3)
    direct_merges, _, _ = learn_bpe_merges(word_vocab(accepted, "text", 32), 3)
    assert served_merges == direct_merges

    # countmin sketch: the accreted counter table equals a one-shot
    # sketch over the accepted tokens (element-wise adds are exact)
    from rag_pipelines_spark.operators.cmsketch import cm_partial

    direct_cm = sorted(
        map(
            tuple,
            cm_partial(
                accepted.select(
                    "lang", F.explode(F.split("text", " ")).alias("term")
                ),
                ["lang"], "term", depth=4, width=64,
            ).collect(),
        )
    )
    assert cm == ((4, 64), direct_cm)

    # drift family: per-epoch scores exist with the score-before-ingest
    # shape (epoch 0 scored against uniform => strictly larger KL than
    # epoch 1, which scored against a populated reference of similar mix)
    drift_state, drift_scores = drift
    assert [e for e, _, _ in drift_scores] == [0, 1]
    assert drift_scores[0][2] > drift_scores[1][2] > 0
    # accreted bucket state equals a one-shot featurization of ALL
    # accepted docs (counts are exactly mergeable)
    from rag_pipelines_spark.operators.dsir import hashed_ngram_features

    direct_drift = sorted(
        map(
            tuple,
            hashed_ngram_features(accepted, "doc_id", "text", 10_000)
            .groupBy("bucket")
            .agg(F.count("*").alias("count_doc_id"))
            .collect(),
        )
    )
    assert drift_state == direct_drift

    # full replay: fresh checkpoint over the same source files — the
    # front door anti-join makes every batch a no-op for every family
    before = (corpus, stats, rollup, seen, freq, hll, kmv, bloom, ann, lm,
              dsir, km, pca, bpe, cm, drift)
    _run(spark, src, root, str(tmp_path / "ckpt2"))
    assert _state_snapshot(spark, root) == before


def test_epoch_guards_make_merges_idempotent(spark, tmp_path):
    """Replaying the SAME epoch must be a no-op for every additive state,
    the near-dup filter must return the SAME clean set (not empty), and
    an epoch older than the state's must raise (checkpoint reset)."""
    import pytest as _pytest

    from rag_pipelines_spark.operators.dedup import incremental_neardup
    from rag_pipelines_spark.operators.retrieval import (
        corpus_stats,
        merge_corpus_stats,
    )
    from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup

    b1, _ = _rows()
    batch = spark.createDataFrame(b1, SCHEMA)
    nd = str(tmp_path / "nd")
    st = str(tmp_path / "st")
    ru = str(tmp_path / "ru")

    clean1 = {r.doc_id for r in incremental_neardup(spark, batch, nd, "doc_id", "text", epoch=0).collect()}
    merge_corpus_stats(spark, batch, st, epoch=0)
    merge_rollup(spark, batch, ru, keys=["lang"],
                 measures={"n_chars": ["count", "sum"]}, epoch=0)
    stats1 = (sorted(map(tuple, corpus_stats(spark, st)[0].collect())),
              corpus_stats(spark, st)[1].collect())
    roll1 = sorted(map(tuple, read_rollup(spark, ru).collect()))

    # replay epoch 0: identical clean set, no state change anywhere
    clean2 = {r.doc_id for r in incremental_neardup(spark, batch, nd, "doc_id", "text", epoch=0).collect()}
    merge_corpus_stats(spark, batch, st, epoch=0)
    merge_rollup(spark, batch, ru, keys=["lang"],
                 measures={"n_chars": ["count", "sum"]}, epoch=0)
    assert clean2 == clean1
    assert (sorted(map(tuple, corpus_stats(spark, st)[0].collect())),
            corpus_stats(spark, st)[1].collect()) == stats1
    assert sorted(map(tuple, read_rollup(spark, ru).collect())) == roll1

    # a LOWER epoch means the checkpoint was reset — loud failure
    merge_corpus_stats(spark, batch, st, epoch=1)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        merge_corpus_stats(spark, batch, st, epoch=0)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        incremental_neardup(spark, batch, nd, "doc_id", "text", epoch=-1)


CRASH_POINTS = [
    "delta", "neardup", "stats", "rollup", "freq", "hll", "kmv",
    "countmin", "lm",
    "dsir", "drift", "ann", "kmeans", "pca", "bpe", "corpus",
    "seen_keys", "seen_bloom", "seen_marker",
]


@pytest.fixture(scope="module")
def nocrash_snapshot(spark, tmp_path_factory):
    """Reference end state of the two-batch run with no crash anywhere."""
    base = tmp_path_factory.mktemp("ingest_baseline")
    src, root, ckpt = str(base / "src"), str(base / "root"), str(base / "ckpt")
    b1, b2 = _rows()
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, ckpt)
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, ckpt)
    return _state_snapshot(spark, root)


@pytest.mark.parametrize("state_backend", ["local", "hadoop-file-uri"])
@pytest.mark.parametrize("crash_after", CRASH_POINTS)
def test_crash_matrix_every_step_replays_to_identical_state(
    spark, tmp_path, crash_after, state_backend, nocrash_snapshot
):
    """The exactly-once drill the epoch design argues on paper, run
    mechanically: kill the foreachBatch after EACH commit step in turn
    (fault injection through the real checkpoint/replay machinery),
    restart, and require every state family to equal the no-crash run
    bit-for-data — additive merges not double-applied, near-dup keys
    not lost, seen keys not partially visible.

    Parametrized over the state backend (round 6): the same 9 points run
    with the state root as a plain path (os.* fast path) AND as a
    file:// URI (Hadoop FileSystem API path — the code every object
    store scheme shares; only the connector behind the Path differs)."""
    src = str(tmp_path / "src")
    root = str(tmp_path / "root")
    if state_backend == "hadoop-file-uri":
        root = f"file://{root}"
    ckpt = str(tmp_path / "ckpt")
    b1, b2 = _rows()
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, ckpt)  # day 1 lands cleanly

    # day 2 arrives; the job dies right after `crash_after`'s commit
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    q = continuous_ingest_pipeline(
        spark, src, SCHEMA, root, ckpt, id_col="doc_id", text_col="text",
        freq_m=100, hll_item_col="doc_id", kmv_item_col="doc_id",
        countmin_width=64,
        ann_k_seeds=2, kmeans_k=2, pca_moments=True,
        seen_bloom_m_bits=1 << 16, lm_gate=True,
        dsir_target=_dsir_target(spark), bpe_vocab=True,
        drift_gate=True,
        _crash_after=crash_after,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
        raise AssertionError("query should have crashed")  # pragma: no cover

    # restart (same checkpoint): the replayed epoch must repair/settle
    _run(spark, src, root, ckpt)
    assert _state_snapshot(spark, root) == nocrash_snapshot
