"""Semantic near-dedup (operators/semdedup.py): equality with an
in-Python brute-force reference (hand cases + hypothesis random vector
sets), hash-seeded centroid determinism, witness-rule keeper semantics,
and the IVF twin built on the same nearest-seed kernel."""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from rag_pipelines_spark.operators.semdedup import semantic_dedup


def _cos9(a, b):
    import numpy as np

    # the Spark column is array<float>: quantize reference inputs to fp32
    # exactly as the engine stores them, then compute in float64
    a = [float(np.float32(x)) for x in a]
    b = [float(np.float32(x)) for x in b]
    d = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a)
    nb = sum(x * x for x in b)
    return round(d / (math.sqrt(na) * math.sqrt(nb)), 9)


def brute(vectors, threshold, target_cluster):
    """The operator's exact rules: hash-seeded centroids, nearest-seed by
    (cos9 desc, seed_id asc), drop iff a smaller-id same-cluster row has
    cos9 >= threshold."""
    ids = sorted(vectors)
    k = max(1, math.ceil(len(ids) / target_cluster))
    seed_ids = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k]
    assign = {}
    for i in ids:
        best = min(
            seed_ids, key=lambda s: (-_cos9(vectors[i], vectors[s]), s)
        )
        assign[i] = best
    out = []
    for i in ids:
        dropped = any(
            j < i
            and assign[j] == assign[i]
            and _cos9(vectors[i], vectors[j]) >= threshold
            for j in ids
        )
        out.append((i, assign[i], 0 if dropped else 1))
    return sorted(out)


def _run(spark, vectors, threshold, target_cluster):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vectors.items())],
        "vec_id: long, embedding: array<float>",
    )
    sdf = semantic_dedup(
        df,
        "vec_id",
        "embedding",
        threshold=threshold,
        target_cluster=target_cluster,
    )
    return sorted((r.vec_id, r.cluster_id, r.kept) for r in sdf.collect())


PLANTED = {
    0: (1, 0, 0, 0),
    1: (1, 0, 0, 0),  # exact dup of 0
    2: (0.98, 0.02, 0, 0),  # near dup of 0/1
    3: (0, 1, 0, 0),
    4: (0, 0.99, 0.01, 0),  # near dup of 3
    5: (0, 0, 1, 0),  # loner
    6: (0, 0, 0, 1),  # loner
}


def test_planted_matches_brute_force(spark):
    got = _run(spark, PLANTED, 0.95, 4)
    assert got == brute(PLANTED, 0.95, 4)


def test_min_id_exemplar_survives(spark):
    got = {i: kept for i, _, kept in _run(spark, PLANTED, 0.95, 100)}
    # one cluster (k=1): 0 is the exemplar; 1 and 2 drop; 4 drops to 3
    assert got[0] == 1 and got[1] == 0 and got[2] == 0
    assert got[3] == 1 and got[4] == 0
    assert got[5] == 1 and got[6] == 1


def test_exact_dups_always_co_cluster(spark):
    """Identical vectors share the nearest seed whatever the seed draw,
    so exact duplicates can never escape via cluster assignment."""
    vecs = {i: (1, 2, 3) for i in range(8)} | {8: (3, -1, 0), 9: (0, 0, 5)}
    got = _run(spark, vecs, 0.999999, 3)
    kept = {i: k for i, _, k in got}
    assert kept[0] == 1 and all(kept[i] == 0 for i in range(1, 8))
    clusters = {c for i, c, _ in got if i < 8}
    assert len(clusters) == 1
    assert got == brute(vecs, 0.999999, 3)


_comp = st.integers(-3, 3)
_vec = st.tuples(_comp, _comp, _comp).map(
    lambda v: v if any(v) else (1, 0, 0)
)
_vecs = st.lists(_vec, min_size=1, max_size=12).map(
    lambda vs: dict(enumerate(vs))
)


@settings(max_examples=12, deadline=None)
@given(vectors=_vecs, tc=st.integers(2, 6))
def test_property_matches_brute_force(spark, vectors, tc):
    assert _run(spark, vectors, 0.5, tc) == brute(vectors, 0.5, tc)


def test_string_ids_work(spark):
    """The margin-prune UDF is keyed by seed INDEX and mapped back
    through a typed broadcast frame, so non-integer id columns work
    (the r8 int64-keyed form crashed on them). Semantics must match the
    long-id run on the same vectors under the same id ORDER."""
    # 'd0'..'d6' sort like 0..6, so brute's min-id witness rule carries
    named = {f"d{i}": v for i, v in PLANTED.items()}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(named.items())],
        "vec_id: string, embedding: array<float>",
    )
    got = sorted(
        (r.vec_id, r.cluster_id, r.kept)
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.95, target_cluster=4
        ).collect()
    )
    # brute() is id-type generic (sorted + md5(str(id)) both work on
    # strings), so it is the reference for the string-keyed run too
    assert got == brute(named, 0.95, 4)


def test_ragged_vector_fails_fast(spark):
    """A vector whose length differs from the seed dimension must raise
    a clear error, not an opaque executor-side object-array crash."""
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id: long, embedding: array<float>",
    )
    with pytest.raises(Exception, match="ragged vector column|seed dimension"):
        semantic_dedup(df, "vec_id", "embedding", target_cluster=2).collect()


# ---------------------------------------------------------------------------
# ivf_topk_exact — deterministic IVF twin
# ---------------------------------------------------------------------------


def _brute_ivf(vectors, query_ids, k_seeds, nprobe, k):
    ids = sorted(vectors)
    seed_ids = sorted(
        ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k_seeds]

    def cells_of(i, n):
        ranked = sorted(
            seed_ids, key=lambda s: (-_cos9(vectors[i], vectors[s]), s)
        )
        return ranked[:n]

    assign = {i: cells_of(i, 1)[0] for i in ids}
    out = []
    for q in query_ids:
        probed = set(cells_of(q, nprobe))
        cands = sorted(
            {c for c in ids if c != q and assign[c] in probed}
        )
        scored = sorted(
            ((_cos9(vectors[q], vectors[c]), c) for c in cands),
            key=lambda t: (-t[0], t[1]),
        )
        out += [(q, c, cos, rk + 1) for rk, (cos, c) in enumerate(scored[:k])]
    return sorted(out)


def _run_ivf(spark, vectors, query_ids, k_seeds, nprobe, k):
    from rag_pipelines_spark.operators.semdedup import ivf_topk_exact

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vectors.items())],
        "vec_id: long, embedding: array<float>",
    )
    q = df.filter(df.vec_id.isin(list(query_ids)))
    rows = ivf_topk_exact(
        df, q, "vec_id", "embedding", k_seeds=k_seeds, nprobe=nprobe, k=k
    ).collect()
    return sorted((r.q_id, r.c_id, r.cosine, r.rk) for r in rows)


def test_ivf_matches_brute_force(spark):
    got = _run_ivf(spark, PLANTED, [0, 3], 3, 2, 3)
    assert got == _brute_ivf(PLANTED, [0, 3], 3, 2, 3)


def test_ivf_probes_restrict_candidates(spark):
    """With nprobe == k_seeds the probe covers everything -> IVF equals
    exact brute force; with nprobe=1 the candidate set can only shrink."""
    full = _run_ivf(spark, PLANTED, [0], 3, 3, 10)
    assert full == _brute_ivf(PLANTED, [0], 3, 3, 10)
    # full-probe == exact: every other vector is a candidate
    assert {c for _, c, _, _ in full} == set(PLANTED) - {0}
    narrow = _run_ivf(spark, PLANTED, [0], 3, 1, 10)
    assert {c for _, c, _, _ in narrow} <= {c for _, c, _, _ in full}
    assert narrow == _brute_ivf(PLANTED, [0], 3, 1, 10)


@settings(max_examples=8, deadline=None)
@given(vectors=_vecs, nprobe=st.integers(1, 5))
def test_ivf_property_matches_brute_force(spark, vectors, nprobe):
    """nprobe spans 1..k_seeds+1: the probe kernel keeps every seed within
    the margin of the n-th best float cosine, and n > k_seeds keeps all."""
    qids = [i for i in vectors if i % 3 == 0]
    assert _run_ivf(spark, vectors, qids, 4, nprobe, 3) == _brute_ivf(
        vectors, qids, 4, nprobe, 3
    )
