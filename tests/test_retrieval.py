"""Unit tests for the retrieval family (operators/retrieval.py): BM25
scoring vs a hand-rolled Python oracle, RRF identities, context-assembly
partition invariance. The cross-engine differential (vs DuckDB) runs in
test_oracle.py like every registered query."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    assemble_context,
    bm25_scores,
    rrf_fuse,
    term_hits,
    topk_per_query,
)
from tests.conftest import SF_DIR_SMOKE

DOCS = [
    (1, "spark join join fast"),
    (2, "slow table scan scan scan"),
    (3, "join order spark spark join"),
    (4, "window agg"),
]
QUERIES = [(0, "spark join"), (1, "scan")]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id INT, text STRING")


def _queries(spark):
    return spark.createDataFrame(QUERIES, "query_id INT, query_text STRING")


def _py_bm25(docs, queries):
    """Straight-line reference implementation (floats, no decimal detour)."""
    toks = {d: t.split(" ") for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, qtext in queries:
        for term in dict.fromkeys(qtext.split(" ")):
            df = sum(1 for v in toks.values() if term in v)
            if df == 0:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d, v in toks.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                norm = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(v) / avgdl)
                out.setdefault((qid, d), 0.0)
                out[(qid, d)] += idf * (tf * (BM25_K1 + 1.0)) / norm
    return out


def test_term_hits_tf_and_dl(spark):
    terms = spark.createDataFrame([("scan",), ("join",)], "term STRING")
    rows = {
        (r.doc_id, r.term): (r.tf, r.dl)
        for r in term_hits(_docs(spark), terms).collect()
    }
    assert rows[(2, "scan")] == (3, 5)
    assert rows[(1, "join")] == (2, 4)
    assert rows[(3, "join")] == (2, 5)
    assert (4, "scan") not in rows  # tf=0 rows are dropped


def test_term_hits_tf_equals_python_count(spark):
    """tf = size(toks) - size(array_remove(toks, term)) counts exactly what
    Python's list.count does, over NULL text, '', short docs and repeated
    terms; a NULL term never hits (tf 0, dropped) and '' matches the one
    empty token of a '' doc."""
    docs = [
        (0, None),
        (1, ""),
        (2, "scan"),
        (3, "scan scan join scan"),
        (4, "join  join"),
        (5, "table"),
    ]
    terms = ["scan", "join", "", None, "absent"]
    got = {
        (r.doc_id, r.term): (r.tf, r.dl)
        for r in term_hits(
            spark.createDataFrame(docs, "doc_id INT, text STRING"),
            spark.createDataFrame([(x,) for x in terms], "term STRING"),
        ).collect()
    }
    want = {
        (d, x): (text.split(" ").count(x), len(text.split(" ")))
        for d, text in docs
        if text is not None
        for x in terms
        if x is not None and text.split(" ").count(x) > 0
    }
    assert got == want
    assert got[(3, "scan")] == (3, 4) and got[(4, "")] == (1, 3)


def test_bm25_matches_python_oracle(spark):
    got = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(_docs(spark), _queries(spark)).collect()
    }
    want = _py_bm25(DOCS, QUERIES)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_bm25_needs_queries_or_qterms(spark):
    with pytest.raises(ValueError, match="queries or qterms"):
        bm25_scores(_docs(spark))


def test_bm25_rare_term_outscores_common(spark):
    """One doc holding the corpus's only occurrence of a term must rank
    first for a query on that term."""
    docs = spark.createDataFrame(
        [(1, "a a a rare"), (2, "a a a a"), (3, "a a")], "doc_id INT, text STRING"
    )
    qs = spark.createDataFrame([(0, "rare a")], "query_id INT, query_text STRING")
    top = topk_per_query(bm25_scores(docs, qs), 3).orderBy("rk").collect()
    assert top[0].doc_id == 1


def test_rrf_identities(spark):
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id INT, doc_id INT, rk INT"
    )
    b = spark.createDataFrame(
        [(0, 10, 2), (0, 12, 1)], "query_id INT, doc_id INT, rk INT"
    )
    got = {r.doc_id: r.rrf for r in rrf_fuse(a, b).collect()}
    assert got[10] == pytest.approx(1 / 61 + 1 / 62, abs=1e-9)  # in both lists
    assert got[11] == pytest.approx(1 / 62, abs=1e-9)  # lexical only
    assert got[12] == pytest.approx(1 / 61, abs=1e-9)  # vector only


def test_incremental_corpus_stats_merge_equals_union(spark, tmp_path):
    """N-batch accretion == one-shot stats over the union, and BM25 served
    from the accreted state is bitwise equal to the direct computation."""
    from rag_pipelines_spark.operators.retrieval import (
        batch_corpus_stats,
        corpus_stats,
        merge_corpus_stats,
    )

    state = str(tmp_path / "stats_state")
    batches = [DOCS[:2], DOCS[2:3], DOCS[3:]]
    for b in batches:
        merge_corpus_stats(
            spark, spark.createDataFrame(b, "doc_id INT, text STRING"), state
        )

    union = _docs(spark)
    terms_direct, totals_direct = batch_corpus_stats(union)
    terms_state, totals_state = corpus_stats(spark, state)
    assert {
        (r.term, r.dfreq) for r in terms_state.collect()
    } == {(r.term, r.dfreq) for r in terms_direct.collect()}
    assert totals_state.collect() == totals_direct.collect()

    direct = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(union, _queries(spark)).collect()
    }
    served = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(
            union, _queries(spark), corpus_stats=(terms_state, totals_state)
        ).collect()
    }
    assert direct == served  # bitwise: same floats either path

    # GC bounds versions at live + predecessor (reader grace — the lease
    # serializes writers, not in-flight readers of the old live)
    import os

    vdirs = [n for n in os.listdir(state) if n.startswith("v-")]
    assert len(vdirs) == 2


def test_corpus_stats_missing_state_raises(spark, tmp_path):
    from rag_pipelines_spark.operators.retrieval import corpus_stats

    with pytest.raises(FileNotFoundError):
        corpus_stats(spark, str(tmp_path / "nope"))


def test_assemble_context_order_is_partition_invariant(spark):
    ranked = spark.createDataFrame(
        [(0, 2, "b"), (0, 1, "a"), (0, 3, "c"), (1, 1, "x")],
        "query_id INT, rk INT, snippet STRING",
    )
    expect = {0: "a | b | c", 1: "x"}
    for nparts in (1, 7):
        got = {
            r.query_id: r.context
            for r in assemble_context(ranked.repartition(nparts)).collect()
        }
        assert got == expect


def test_bm25_no_match_and_empty_text(spark):
    """A query whose terms appear nowhere yields no rows for that query;
    empty-text docs (split -> ['']) never match and never crash."""
    docs = spark.createDataFrame(
        [(1, "spark join"), (2, "")], "doc_id INT, text STRING"
    )
    qs = spark.createDataFrame(
        [(0, "zzz qqq"), (1, "spark")], "query_id INT, query_text STRING"
    )
    got = bm25_scores(docs, qs).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.doc_id)
    assert 0 not in by_q  # no hits anywhere for the all-miss query
    assert by_q[1] == [1]  # empty-text doc 2 never matches


def test_rrf_empty_side(spark):
    """Fusing against an empty ranked list degrades to the other list's
    contributions (full-outer semantics, no crash)."""
    a = spark.createDataFrame([(0, 10, 1)], "query_id INT, doc_id INT, rk INT")
    b = spark.createDataFrame([], "query_id INT, doc_id INT, rk INT")
    got = rrf_fuse(a, b).collect()
    assert len(got) == 1 and got[0].rrf == pytest.approx(1 / 61, abs=1e-9)


def test_null_text_docs_excluded_from_stats_symmetrically(spark):
    """Review finding: n_docs counted null-text docs that sum_dl skipped,
    skewing avgdl/idf. Null-text rows must not affect scores at all."""
    base = [(1, "spark join"), (2, "join scan")]
    with_null = base + [(3, None)]
    qs = spark.createDataFrame([(0, "join")], "query_id INT, query_text STRING")
    a = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(
            spark.createDataFrame(base, "doc_id INT, text STRING"), qs
        ).collect()
    }
    b = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(
            spark.createDataFrame(with_null, "doc_id INT, text STRING"), qs
        ).collect()
    }
    assert a == b

    from rag_pipelines_spark.operators.retrieval import batch_corpus_stats

    t1, tot1 = batch_corpus_stats(
        spark.createDataFrame(base, "doc_id INT, text STRING")
    )
    t2, tot2 = batch_corpus_stats(
        spark.createDataFrame(with_null, "doc_id INT, text STRING")
    )
    assert tot1.collect() == tot2.collect()
    assert sorted(map(tuple, t1.collect())) == sorted(map(tuple, t2.collect()))


def test_term_pmi_cap_bounds_pair_emission(spark):
    """max_terms_per_doc bounds any one document's pair emission at
    k·(k-1)/2 — the guard for the pair build's quadratic blowup on a
    long document — while staying deterministic (hash-ranked slice)."""
    from rag_pipelines_spark.operators.retrieval import term_pmi

    # one pathological doc with 60 distinct terms + small normal docs
    long_doc = " ".join(f"term{i:03d}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "alpha beta"), (3, "beta gamma")],
        "doc_id INT, text STRING",
    )
    uncapped = term_pmi(docs, min_pair_count=1, max_terms_per_doc=None)
    capped = term_pmi(docs, min_pair_count=1, max_terms_per_doc=10)
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    # uncapped: C(60,2) + 1 + 1 pairs; capped: ≤ C(10,2) per doc
    assert n_uncapped >= 60 * 59 // 2
    assert n_capped <= 10 * 9 // 2 + 2
    # deterministic: same slice every run
    assert (
        sorted(map(tuple, capped.collect()))
        == sorted(map(tuple, term_pmi(docs, min_pair_count=1,
                                      max_terms_per_doc=10).collect()))
    )
    # capped pairs are a subset of uncapped pairs with identical counts
    # (capping selects documents' term subsets; it never invents pairs),
    # but c12/pmi may shrink — compare on pair identity only
    pairs_capped = {(r.t1, r.t2) for r in capped.collect()}
    pairs_uncapped = {(r.t1, r.t2) for r in uncapped.collect()}
    assert pairs_capped <= pairs_uncapped


def test_maxsim_matches_numpy_bruteforce(spark):
    """MaxSim over synthetic multi-vector frames equals a per-pair numpy
    brute force: Σ_qtok max_dtok cos(q,d), quantized to integer nanos
    exactly like the operator (FLOOR(cos·1e9 + 0.5))."""
    import numpy as np

    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_scores,
    )

    rng = np.random.default_rng(7)
    dim, n_tok, tdim = 16, 4, 4
    vecs = {i: rng.normal(size=dim).astype(np.float32) for i in range(6)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    toks = embedding_tokens(df, n_tokens=n_tok, token_dim=tdim)
    got = {
        (r.query_id, r.doc_id): r.maxsim
        for r in maxsim_scores(
            toks.filter(F.col("id") < 2), toks, exclude_self=True,
            token_dim=tdim,
        ).collect()
    }
    assert len(got) == 2 * 5
    for (q, d), score in got.items():
        qt = vecs[q].astype(np.float64).reshape(n_tok, tdim)
        dt = vecs[d].astype(np.float64).reshape(n_tok, tdim)
        want_nanos = 0
        for qv in qt:
            cn = [
                math.floor(
                    float(qv @ dv)
                    / (math.sqrt(float(qv @ qv)) * math.sqrt(float(dv @ dv)))
                    * 1e9
                    + 0.5
                )
                for dv in dt
            ]
            want_nanos += max(cn)
        assert score == pytest.approx(want_nanos / 1e9, abs=1e-12), (q, d)


def test_maxsim_zero_norm_tokens_ignored(spark):
    """A zero-norm token sub-vector must not poison the score: its 0/0
    cosine is NaN, and Spark MAX ranks NaN above every double — the
    operator filters zero-norm tokens on both sides instead."""
    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_scores,
    )

    # doc 1: first sub-vector is all-zero; doc 2: entirely zero vectors
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.5, 1.0]),
            (1, [0.0, 0.0, 1.0, -1.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    toks = embedding_tokens(df, n_tokens=2, token_dim=2)
    got = {
        (r.query_id, r.doc_id): r.maxsim
        for r in maxsim_scores(
            toks.filter(F.col("id") == 0), toks, exclude_self=True,
            token_dim=2,
        ).collect()
    }
    # doc 2 has no nonzero token -> no (0,2) pair at all; doc 1 scores
    # only over its nonzero second token, finite and within bounds
    assert set(got) == {(0, 1)}
    assert math.isfinite(got[(0, 1)])
    assert abs(got[(0, 1)]) <= 2.0 + 1e-9


def test_maxsim_bounded_by_token_count(spark):
    """|maxsim| <= n_tokens (each per-token cosine is in [-1, 1])."""
    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_scores,
    )

    toks = embedding_tokens(
        spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet")
    )
    scored = maxsim_scores(toks.filter(F.col("id") < 4), toks,
                           exclude_self=True)
    bad = scored.filter(F.abs(F.col("maxsim")) > 8.0 + 1e-9).count()
    assert bad == 0


def _clustered_embeddings(spark, n=400, n_clusters=16, noise=0.05, seed=11):
    """Tight topical clusters (member-center cosine ~0.94) — the regime
    ANN pruning is FOR (SCALE.md 'ANN ladder, clustered regime'); the
    driver fixture is hash-uniform, the documented worst case where
    recall provably tracks probe fraction for any index."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        v = centers[i % n_clusters] + noise * rng.normal(size=64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_maxsim_pruned_scores_equal_exact_on_shared_pairs(spark):
    """The pruned tier re-ranks candidates with the SAME arithmetic as
    the exact tier, so every (query, doc) present in both outputs must
    carry a bit-identical score — pruning may only remove pairs, never
    perturb them."""
    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_candidates_ivf,
        maxsim_scores,
    )

    toks = embedding_tokens(
        spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet")
    )
    qtoks = toks.filter(F.col("id") < 4)
    exact = {
        (r.query_id, r.doc_id): r.maxsim
        for r in maxsim_scores(qtoks, toks, exclude_self=True).collect()
    }
    cand = maxsim_candidates_ivf(
        qtoks, toks, n_cells=32, nprobe=2, min_matches=2, exclude_self=True
    )
    pruned = {
        (r.query_id, r.doc_id): r.maxsim
        for r in maxsim_scores(qtoks, toks, candidates=cand).collect()
    }
    assert pruned, "candidate generation produced nothing"
    assert set(pruned) <= set(exact)
    for pair, score in pruned.items():
        assert score == exact[pair], pair  # bitwise, not approx


def test_maxsim_pruned_recall_pin_clustered(spark):
    """recall@5 of the pruned IVF tier vs the exact tier on a clustered
    fixture, with the EXACT settings q_maxsim_pruned registers
    (n_cells=128, nprobe=2, min_matches=4, refine off): observed
    recall 1.0 at 27% probe fraction — pin >= 0.8 (slack for fixture
    regeneration, not for a broken assigner)."""
    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_candidates_ivf,
        maxsim_scores,
        topk_per_query,
    )

    toks = embedding_tokens(_clustered_embeddings(spark)).localCheckpoint()
    qtoks = toks.filter(F.col("id") < 8)
    exact_top = {
        (r.query_id, r.doc_id)
        for r in topk_per_query(
            maxsim_scores(qtoks, toks, exclude_self=True),
            5, score_col="maxsim",
        ).collect()
    }
    cand = maxsim_candidates_ivf(
        qtoks, toks, n_cells=128, nprobe=2, min_matches=4,
        refine_iters=0, exclude_self=True,
    )
    # the candidate cut must be real, not the whole corpus in disguise
    n_cand = cand.count()
    assert n_cand < 0.5 * 8 * 400, n_cand
    pruned_top = {
        (r.query_id, r.doc_id)
        for r in topk_per_query(
            maxsim_scores(qtoks, toks, candidates=cand),
            5, score_col="maxsim",
        ).collect()
    }
    recall = len(exact_top & pruned_top) / len(exact_top)
    assert recall >= 0.8, recall


def test_maxsim_guarded_double_equals_decimal_path(spark, monkeypatch):
    """The r10 guarded evaluation (double fast path, decimal fold only on
    boundary-risky rows) must be bit-identical to the always-decimal
    evaluation — on random pairs, on cosines planted within 1e-12..1e-6
    of FLOOR(cos*1e9+0.5) boundaries (forcing the risky branch), on
    near-zero norms (margin blows up -> decimal), and on large-magnitude
    vectors (the summation-error term of the margin scales up)."""
    import math as m

    import numpy as np

    from rag_pipelines_spark.operators import retrieval
    from rag_pipelines_spark.operators.retrieval import (
        embedding_tokens,
        maxsim_scores,
    )

    rng = np.random.default_rng(11)
    rows = []
    vid = 0

    def add(vec):
        nonlocal vid
        rows.append((vid, [float(x) for x in vec]))
        vid += 1

    # queries: axis vector + a random one (ids 0, 1)
    add([1.0, 0.0, 0.0, 0.0] * 4)
    add(rng.normal(size=16))
    # random corpus
    for _ in range(20):
        add(rng.normal(size=16))
    # boundary-planted: first token [c, s, 0, 0] vs query token
    # [1, 0, 0, 0] has cosine ~c/sqrt(c^2+s^2); plant c at FLOOR
    # boundaries (k - 0.5)/1e9 +- delta
    for k in (1_000_000, 250_000_000, 999_999_999):
        for delta in (0.0, 1e-12, -1e-12, 1e-10, -1e-10, 1e-7, -1e-7, 1e-6):
            c = (k - 0.5) / 1e9 + delta
            s = m.sqrt(max(0.0, 1.0 - c * c))
            add([c, s, 0.0, 0.0] + list(rng.normal(size=12)))
    # small norm (1e-5 scale: n2 ~1e-10 survives the scale-15 decimal
    # quantization, unlike 1e-8 whose n2 rounds to the filtered 0) and
    # large magnitude (1e3 scale)
    add(list(1e-5 * rng.normal(size=16)))
    add(list(1e3 * rng.normal(size=16)))

    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    toks = embedding_tokens(df, n_tokens=4, token_dim=4).localCheckpoint(
        eager=True
    )
    q = toks.filter(F.col("id") < 2)

    got = {
        (r.query_id, r.doc_id): r.maxsim
        for r in maxsim_scores(
            q, toks, exclude_self=True, token_dim=4
        ).collect()
    }
    monkeypatch.setattr(retrieval, "_MAXSIM_GUARD", 1e9)
    want = {
        (r.query_id, r.doc_id): r.maxsim
        for r in maxsim_scores(
            q, toks, exclude_self=True, token_dim=4
        ).collect()
    }
    assert got.keys() == want.keys() and len(got) == 2 * (vid - 1)
    for k in want:
        # bitwise: both are one CAST(nanos AS DOUBLE)/1e9
        assert got[k] == want[k], k
