"""ANN recall ladder: recall@10 + probe fraction vs brute force across
scale factors (r4 verdict item #5 — turn the small-fixture recall
assertions of tests/test_similarity.py into measured evidence at sf1 and
sf10).

For each sf dir: 50 query vectors against the full embeddings corpus.
Exact top-10 comes from cosine_topk_bruteforce; each LSH/IVF setting is
run with k=ALL so one job yields BOTH the recall@10 subset (rank <= 10)
and the candidate-pair count (the operator's only data-sized cost — the
probe fraction is candidates / (|Q|·(N-1)), i.e. the fraction of the
brute-force work the index actually did).

Usage:
    python tools/ann_recall_ladder.py [sf_dir ...]
    # default ladder: driver sf0.1, generated _testdata/sf1 + sf10
    python tools/ann_recall_ladder.py --maxsim [sf_dir ...]
    # MaxSim rung (round 10): recall@5 of the pruned late-interaction
    # tier (maxsim_candidates_ivf -> exact re-rank) vs the exact
    # brute-force tier, 8 queries, same probe-fraction accounting

Prints one JSON line per (sf, method, setting); paste the table into
SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

DEFAULT_DIRS = [
    "/root/testdata/sf0.1",
    os.path.join(ROOT, "_testdata", "sf1"),
    os.path.join(ROOT, "_testdata", "sf10"),
]
N_QUERIES = 50
K = 10
ALL = (1 << 31) - 1  # "k = everything": rank filter keeps every candidate


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["q_id"], set()).add(r["c_id"])
    return out


def run_ladder(spark, sf_dir: str) -> list[dict]:
    from rag_pipelines_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _topk_sets(
        cosine_topk_bruteforce(queries, emb, k=K).collect()
    )
    denom = K * len(exact)
    results = []

    def measure(method: str, setting: dict, df):
        t0 = time.time()
        df = df.cache()
        n_pairs = df.count()
        approx = _topk_sets(df.filter(F.col("rank") <= K).collect())
        dt = time.time() - t0
        df.unpersist()
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        rec = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "method": method,
            **setting,
            "recall_at_10": round(hits / denom, 4),
            "cand_pairs": n_pairs,
            "probe_frac": round(n_pairs / (len(exact) * (n_corpus - 1)), 4),
            "sec": round(dt, 2),
        }
        results.append(rec)
        print(json.dumps(rec))

    for bits, tables in ((8, 4), (8, 8), (8, 12), (4, 8), (4, 12)):
        measure(
            "lsh",
            {"bits": bits, "tables": tables},
            cosine_topk_lsh(
                queries, emb, dim=64, k=ALL, bits=bits, tables=tables
            ),
        )
    n_cells = max(16, int(round(n_corpus ** 0.5 / 16)) * 16)
    for nprobe in (2, 4, 8):
        measure(
            "ivf",
            {"n_cells": n_cells, "nprobe": nprobe},
            cosine_topk_ivf(
                queries, emb, k=ALL, n_cells=n_cells, nprobe=nprobe
            ),
        )
    # kmeans-refined IVF (r5 verdict item #3): 2 Lloyd iterations move the
    # sampled centroids to cluster means — the setting a user would run on
    # clustered (real) embeddings
    for nprobe in (2, 4, 8):
        measure(
            "ivf+kmeans2",
            {"n_cells": n_cells, "nprobe": nprobe},
            cosine_topk_ivf(
                queries, emb, k=ALL, n_cells=n_cells, nprobe=nprobe,
                refine_iters=2,
            ),
        )
    return results


def run_maxsim_ladder(spark, sf_dir: str) -> list[dict]:
    """MaxSim rung: recall@5 of the IVF-pruned late-interaction tier vs
    the exact brute-force tier (operators/retrieval.py), over the
    settings around q_maxsim_pruned's registered config. 8 query ids,
    probe fraction = surviving candidate pairs / (|Q|·(N−1))."""
    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_candidates_ivf,
        maxsim_scores,
        topk_per_query,
    )

    k = 5
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_corpus = emb.count()
    toks = embedding_tokens(emb).localCheckpoint(eager=True)
    qtoks = toks.filter(F.col("id") < 8)
    exact = _topk_sets(
        topk_per_query(
            maxsim_scores(qtoks, toks, exclude_self=True), k,
            score_col="maxsim",
        )
        .selectExpr("query_id AS q_id", "doc_id AS c_id")
        .collect()
    )
    denom = sum(len(v) for v in exact.values())
    results = []
    for n_cells, nprobe, m in (
        (128, 2, 2), (128, 2, 4), (128, 1, 4), (256, 2, 4),
    ):
        t0 = time.time()
        cand = maxsim_candidates_ivf(
            qtoks, toks, n_cells=n_cells, nprobe=nprobe, min_matches=m,
            refine_iters=0, exclude_self=True,
        ).cache()
        n_pairs = cand.count()
        approx = _topk_sets(
            topk_per_query(
                maxsim_scores(qtoks, toks, candidates=cand), k,
                score_col="maxsim",
            )
            .selectExpr("query_id AS q_id", "doc_id AS c_id")
            .collect()
        )
        dt = time.time() - t0
        cand.unpersist()
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        rec = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "method": "maxsim_ivf",
            "n_cells": n_cells,
            "nprobe": nprobe,
            "min_matches": m,
            "recall_at_5": round(hits / denom, 4),
            "cand_pairs": n_pairs,
            "probe_frac": round(n_pairs / (len(exact) * (n_corpus - 1)), 4),
            "sec": round(dt, 2),
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)
    return results


def main() -> None:
    from rag_pipelines_spark.session import get_spark

    args = sys.argv[1:]
    maxsim = "--maxsim" in args
    dirs = [a for a in args if a != "--maxsim"] or DEFAULT_DIRS
    spark = get_spark("ann-recall-ladder")
    for d in dirs:
        (run_maxsim_ladder if maxsim else run_ladder)(spark, d)
    spark.stop()


if __name__ == "__main__":
    main()
