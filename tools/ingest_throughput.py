"""Continuous-ingest throughput rung (r5 verdict item #7): per-family
merge wall vs batch size, with growing history — the measured form of
the claim that merge cost tracks the BATCH, not the accumulated state.

Protocol: for each batch size B, a fresh state root ingests 3
consecutive disjoint batches of B documents from the sf10 fixture
through every state family (near-dup manifest state, BM25 corpus
stats, keyed rollup, MG freq sketch, HLL sketch,
KMV sketch, seen-keys bloom, frozen-centroid ANN postings, DSIR
bucket counts, k-means centroid sums, PCA moment sums — r9 completed
the set), timing each family's merge per batch. If merges scaled with history, batch 3 (2B docs of state
behind it) would be slower than batch 1; if they track the batch,
walls are flat across batches and grow ~ linearly in B. After the
last batch a SERVE pass times one state-read query per family, so the
row also records what a consumer pays against the accreted state.

Families are timed through their BATCH-side merge APIs — the same
functions continuous_ingest_pipeline calls inside foreachBatch — so the
numbers isolate merge cost from Structured Streaming trigger overhead
(which BENCH/SCALE already account elsewhere).

Usage:
    python tools/ingest_throughput.py [sf_dir] [batch_sizes_csv]
    # defaults: _testdata/sf10, 12500,50000,150000

Prints one JSON line per (batch_size, batch_idx) with per-family
seconds; paste the summary table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_BATCHES = 3


def run(spark, sf_dir: str, batch_sizes: list[int]) -> list[dict]:
    from rag_pipelines_spark.operators.annstate import (
        ann_query_from_state,
        merge_ann_index,
    )
    from rag_pipelines_spark.operators.bloomfilter import merge_bloom
    from rag_pipelines_spark.operators.dedup import incremental_neardup
    from rag_pipelines_spark.operators.dsir import hashed_ngram_features
    from rag_pipelines_spark.operators.embedding import hashed_bow_embedding
    from rag_pipelines_spark.operators.freqsketch import merge_freq
    from rag_pipelines_spark.operators.hllsketch import merge_hll
    from rag_pipelines_spark.operators.kmv import merge_kmv
    from rag_pipelines_spark.operators.kmeansstate import merge_kmeans_state
    from rag_pipelines_spark.operators.pcastate import merge_pca_moments
    from rag_pipelines_spark.operators.cmsketch import cm_estimate, merge_cm
    from rag_pipelines_spark.operators.drift import kl_against
    from rag_pipelines_spark.operators.retrieval import merge_corpus_stats
    from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    results = []
    for bsize in batch_sizes:
        root = tempfile.mkdtemp(prefix=f"ingest-tp-{bsize}-")
        for bi in range(N_BATCHES):
            lo, hi = bi * bsize, (bi + 1) * bsize
            batch = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).localCheckpoint(eager=True)  # exclude the source scan from
            # every family's timing
            rec = {"batch_size": bsize, "batch_idx": bi}
            t0 = time.time()
            clean = incremental_neardup(
                spark, batch, os.path.join(root, "neardup"),
                "doc_id", "text", epoch=bi,
            ).localCheckpoint(eager=True)
            rec["neardup_s"] = round(time.time() - t0, 2)
            rec["accepted"] = clean.count()
            t0 = time.time()
            merge_corpus_stats(
                spark, clean, os.path.join(root, "stats"),
                text_col="text", epoch=bi,
            )
            rec["stats_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_rollup(
                spark, clean, os.path.join(root, "rollup"), keys=["lang"],
                measures={"n_chars": ["count", "sum"]}, epoch=bi,
            )
            rec["rollup_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            toks = clean.select(
                "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
            )
            merge_freq(
                spark, toks, os.path.join(root, "freq"),
                keys=["lang"], item_col="term", m=100, epoch=bi,
            )
            rec["freq_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_hll(
                spark, clean, os.path.join(root, "hll"),
                keys=["lang"], item_col="doc_id", epoch=bi,
            )
            rec["hll_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_kmv(
                spark, clean, os.path.join(root, "kmv"),
                keys=["lang"], item_col="doc_id", epoch=bi,
            )
            rec["kmv_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_bloom(
                spark, batch.select("doc_id"), os.path.join(root, "bloom"),
                key="doc_id", m_bits=1 << 22, epoch=bi,
            )
            rec["bloom_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            emb = hashed_bow_embedding(
                clean, id_col="doc_id", text_col="text", dim=64
            )
            merge_ann_index(
                spark, emb, os.path.join(root, "ann"), "doc_id",
                "embedding", k_seeds=64, epoch=bi,
            )
            rec["ann_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_rollup(
                spark,
                hashed_ngram_features(clean, "doc_id", "text", 10_000),
                os.path.join(root, "dsir"),
                keys=["bucket"], measures={"doc_id": ["count"]}, epoch=bi,
            )
            rec["dsir_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_cm(
                spark, toks, os.path.join(root, "countmin"),
                keys=["lang"], item_col="term", depth=4, width=1024,
                epoch=bi,
            )
            rec["countmin_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            dfeats = hashed_ngram_features(clean, "doc_id", "text", 10_000)
            try:
                dref = read_rollup(spark, os.path.join(root, "drift")).select(
                    "bucket", F.col("count_doc_id").alias("cnt")
                )
            except FileNotFoundError:
                dref = spark.createDataFrame([], "bucket bigint, cnt bigint")
            kl_against(
                dfeats.groupBy("bucket").agg(F.count("*").alias("cnt")),
                dref,
            ).collect()
            merge_rollup(
                spark, dfeats, os.path.join(root, "drift"),
                keys=["bucket"], measures={"doc_id": ["count"]}, epoch=bi,
            )
            rec["drift_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_kmeans_state(
                spark, emb, os.path.join(root, "kmeans"), "doc_id",
                "embedding", k=64, epoch=bi,
            )
            rec["kmeans_s"] = round(time.time() - t0, 2)
            t0 = time.time()
            merge_pca_moments(
                spark, emb, os.path.join(root, "pca"), epoch=bi
            )
            rec["pca_s"] = round(time.time() - t0, 2)
            rec["total_s"] = round(
                sum(v for k, v in rec.items() if k.endswith("_s")), 2
            )
            results.append(rec)
            print(json.dumps(rec))
        # serve pass: what a consumer pays against the accreted state
        # (state as of 3 batches; probe = a 1000-doc slice of batch 0)
        from rag_pipelines_spark.operators.bloomfilter import (
            bloom_probe,
            bloom_state_params,
            read_bloom_words,
        )
        from rag_pipelines_spark.operators.dsir import dsir_score_against
        from rag_pipelines_spark.operators.freqsketch import freq_topk
        from rag_pipelines_spark.operators.hllsketch import (
            hll_estimate,
            read_hll,
        )
        from rag_pipelines_spark.operators.kmv import kmv_estimate, read_kmv
        from rag_pipelines_spark.operators.retrieval import corpus_stats

        probe = docs.filter(F.col("doc_id") < 1000).localCheckpoint(
            eager=True
        )
        srec = {"batch_size": bsize, "serve": True}
        t0 = time.time()
        terms, totals = corpus_stats(spark, os.path.join(root, "stats"))
        terms.orderBy(F.desc("dfreq")).limit(10).collect()
        totals.collect()
        srec["stats_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        read_rollup(spark, os.path.join(root, "rollup")).collect()
        srec["rollup_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        freq_topk(spark, os.path.join(root, "freq"), keys=["lang"], k=10).collect()
        srec["freq_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        hll_estimate(
            read_hll(spark, os.path.join(root, "hll")), ["lang"]
        ).collect()
        srec["hll_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        kmv_estimate(
            read_kmv(spark, os.path.join(root, "kmv")), ["lang"]
        ).collect()
        srec["kmv_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        words = read_bloom_words(spark, os.path.join(root, "bloom"))
        m_bits, k_h = bloom_state_params(words)
        bloom_probe(probe, words, "doc_id", m_bits, k_h).filter(
            F.col("_bfmaybe")
        ).count()
        srec["bloom_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        ann_query_from_state(
            spark, os.path.join(root, "ann"),
            hashed_bow_embedding(
                probe, id_col="doc_id", text_col="text", dim=64
            ),
            "doc_id", "embedding", nprobe=2, k=5,
        ).count()
        srec["ann_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        raw = read_rollup(spark, os.path.join(root, "dsir")).select(
            "bucket", F.col("count_doc_id").alias("cr")
        )
        tgt = raw.select("bucket", F.col("cr").alias("ct"))  # self-target:
        # serve-cost probe only, the distributions' CONTENT is irrelevant
        dsir_score_against(
            hashed_ngram_features(probe, "doc_id", "text", 10_000),
            raw, tgt, "doc_id",
        ).count()
        srec["dsir_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        from rag_pipelines_spark.operators.kmeansstate import (
            kmeans_assign_from_state,
        )

        kmeans_assign_from_state(
            spark, hashed_bow_embedding(
                probe, id_col="doc_id", text_col="text", dim=64
            ), os.path.join(root, "kmeans"), "doc_id", "embedding",
        ).count()
        srec["kmeans_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        from rag_pipelines_spark.operators.pcastate import (
            pca_covariance_from_state,
        )

        pca_covariance_from_state(spark, os.path.join(root, "pca")).count()
        srec["pca_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        cm_probe = probe.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("item")
        ).distinct()
        cm_estimate(
            spark, os.path.join(root, "countmin"), cm_probe, keys=["lang"]
        ).count()
        srec["countmin_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        pfeats = hashed_ngram_features(probe, "doc_id", "text", 10_000)
        kl_against(
            pfeats.groupBy("bucket").agg(F.count("*").alias("cnt")),
            read_rollup(spark, os.path.join(root, "drift")).select(
                "bucket", F.col("count_doc_id").alias("cnt")
            ),
        ).collect()
        srec["drift_s"] = round(time.time() - t0, 2)
        results.append(srec)
        print(json.dumps(srec))
        shutil.rmtree(root, ignore_errors=True)
    return results


def main() -> None:
    from rag_pipelines_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "_testdata/sf10"
    sizes = (
        [int(x) for x in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [12_500, 50_000, 150_000]
    )
    spark = get_spark("ingest-throughput")
    run(spark, sf_dir, sizes)
    spark.stop()


if __name__ == "__main__":
    main()
