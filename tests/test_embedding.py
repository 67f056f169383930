"""Embedding generation (operators/embedding.py): hashed BoW."""

import math

import pytest

from rag_pipelines_spark.operators.embedding import (
    hashed_bow_embedding,
    hashed_bow_sparse,
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "Dogs! dogs, DOGS."),
            (3, "   "),  # zero tokens
            (4, "one"),
        ],
        ["doc_id", "text"],
    )


def test_sparse_weights_are_unit_norm_per_doc(docs):
    rows = hashed_bow_sparse(docs, dim=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["weight"])
    assert 3 not in by_doc  # zero-token doc yields no rows
    for doc_id, ws in by_doc.items():
        assert math.isclose(sum(w * w for w in ws), 1.0, rel_tol=1e-12), doc_id
    # single-token doc: one bucket, weight exactly 1.0
    assert by_doc[4] == [1.0]


def test_dense_matches_sparse_and_is_deterministic(docs):
    dim = 16
    sparse = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in hashed_bow_sparse(docs, dim=dim).collect()
    }
    dense = {r["doc_id"]: r["embedding"] for r in hashed_bow_embedding(docs, dim=dim).collect()}
    assert set(dense) == {1, 2, 4}
    for doc_id, vec in dense.items():
        assert len(vec) == dim
        for b, v in enumerate(vec):
            assert v == sparse.get((doc_id, b), 0.0)
    again = {r["doc_id"]: r["embedding"] for r in hashed_bow_embedding(docs, dim=dim).collect()}
    assert again == dense


def test_case_and_punctuation_insensitive_tokens(spark):
    df = spark.createDataFrame([(1, "Cat cat CAT!"), (2, "cat cat cat")], ["doc_id", "text"])
    out = hashed_bow_sparse(df, dim=8).collect()
    w = {(r["doc_id"], r["bucket"]): r["weight"] for r in out}
    assert {k[1] for k in w if k[0] == 1} == {k[1] for k in w if k[0] == 2}
    assert all(v == 1.0 for v in w.values())  # one bucket per doc -> unit weight
