"""Recall tests: approximate similarity operators vs the exact baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)

from tests.conftest import SF_DIR as SF


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("similarity-tests", shuffle_partitions=8)


@pytest.fixture(scope="module")
def frames(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    return e.filter(F.col("vec_id") < 20), e


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["c_id"])
    return out


def test_bruteforce_shape(frames):
    q, corpus = frames
    exact = _topk_sets(cosine_topk_bruteforce(q, corpus, k=5))
    assert len(exact) == 20
    assert all(len(v) == 5 for v in exact.values())


def test_lsh_recall_vs_exact(frames):
    q, corpus = frames
    exact = _topk_sets(cosine_topk_bruteforce(q, corpus, k=5))
    approx = _topk_sets(cosine_topk_lsh(q, corpus, dim=64, k=5, bits=4, tables=12))
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / (5 * len(exact))
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_ivf_recall_vs_exact(frames):
    q, corpus = frames
    exact = _topk_sets(cosine_topk_bruteforce(q, corpus, k=5))
    approx = _topk_sets(cosine_topk_ivf(q, corpus, k=5, n_cells=8, nprobe=4))
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / (5 * len(exact))
    assert recall >= 0.4, f"IVF recall too low: {recall:.2f}"


def test_ivf_kmeans_refined_recall(frames):
    """Lloyd-refined centroids must stay a working index (and in practice
    tighten cells); recall floor matches the unrefined assertion."""
    q, corpus = frames
    exact = _topk_sets(cosine_topk_bruteforce(q, corpus, k=5))
    approx = _topk_sets(
        cosine_topk_ivf(q, corpus, k=5, n_cells=8, nprobe=4, refine_iters=2)
    )
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / (5 * len(exact))
    assert recall >= 0.4, f"refined-IVF recall too low: {recall:.2f}"


def test_bruteforce_null_embedding_scores_null_ranked_last(spark):
    """A null corpus embedding scores a null cosine and ranks after every
    live candidate; a null query embedding scores null against all."""
    rows = [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.q_id, r.rank): (r.c_id, r.cosine)
        for r in cosine_topk_bruteforce(df, df, k=3).collect()
    }
    assert got[(1, 1)] == (4, pytest.approx(2 ** -0.5))
    assert got[(1, 2)] == (3, 0.0)
    assert got[(1, 3)] == (2, None)
    assert [got[(2, rk)] for rk in (1, 2, 3)] == [(1, None), (3, None), (4, None)]


def test_lsh_null_embedding_rows_dropped_not_crashed(spark):
    """A null embedding must yield zero candidate rows for that id (null
    bucket array -> posexplode drops it), never a worker crash."""
    from rag_pipelines_spark.operators.similarity import cosine_topk_lsh

    rows = [
        (1, [1.0] * 8),
        (2, None),
        (3, [1.0] * 8),
        (4, [0.9] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_lsh(
        df.filter("vec_id <= 2"), df, dim=8, k=3, bits=2, tables=2
    ).collect()
    ids = {r["q_id"] for r in out}
    assert 2 not in ids
    assert 1 in ids  # live vectors still match


def test_ivf_clustered_regime_high_recall_low_probe(spark):
    """Round-6 verdict item #3 (pinned form of the SCALE.md clustered
    ladder): on planted-cluster embeddings — the geometry real encoder
    output has — IVF with kmeans refinement reaches high recall at a
    small probe fraction, the regime the index exists for (the uniform
    fixture documents its honest worst case)."""
    import random

    from rag_pipelines_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = random.Random(11)
    dim, n_clusters, per = 16, 16, 125
    centers = [
        [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            rows.append(
                (vid, [centers[c][d] + rng.uniform(-0.3, 0.3)
                       for d in range(dim)])
            )
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = corpus.filter(F.col("vec_id") % 125 == 0)  # one query per cluster

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.q_id, set()).add(r.c_id)
        return out

    exact = topk_sets(cosine_topk_bruteforce(q, corpus, k=5))
    ivf = cosine_topk_ivf(
        q, corpus, k=5, n_cells=n_clusters, nprobe=2, refine_iters=2
    )
    approx = topk_sets(ivf)
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / (5 * len(exact))
    assert recall >= 0.8, f"clustered-regime IVF recall {recall:.2f}"
