"""Semantic (embedding-space) near-deduplication — SemDeDup-style.

Cluster the corpus embeddings, then drop documents whose embedding is
near-identical (cosine >= threshold) to a lower-id document in the SAME
cluster — the within-cluster restriction is what makes the operation
scale: pairwise comparison happens only inside clusters of bounded size,
never corpus x corpus (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"). Complements the
lexical tiers (exact / MinHash / substring): embedding-space duplicates
need not share a single token. Beyond the reference surface (§2.11
north-star; the reference dedups exact records only).

Spark-first, oracle-checkable design:

  * **Deterministic hash-seeded centroids** (`hash_min_seeds`): the k
    corpus vectors with the smallest (md5(id), id) — layout-stable,
    engine-portable (DuckDB computes the identical seed set), and no
    float averaging, so the "centroids" are exact fp32 data vectors.
  * **Assignment is the IVF pattern, two-phase** (`nearest_seeds`, the
    one kernel semantic_dedup, ivf_topk_exact and the incremental ANN
    state share): one Arrow-batched float64 matmul pass over the corpus
    against the driver-collected seed matrix prunes each row's k seeds
    to a provably-sufficient margin set (~1 candidate), and only those
    pay the exact decimal fold — |N|·k FLOPs plus ~|N| exact dots,
    corpus never shuffles to be scored. k derives from a target cluster
    size, so cluster populations — and with them the within-cluster
    pair count — stay bounded as the corpus grows.
  * **Bitwise-deterministic scores**: operators/vecexpr.py's
    dot_dec / norm2 / cos9, the exact-cosine scheme q_cosine_topk
    shares, so assignment, tie-breaks, and the threshold test make
    identical decisions in Spark and DuckDB.
  * **Greedy min-id witness rule**: a document is dropped iff some
    SAME-CLUSTER document with a smaller id has cosine >= threshold to
    it — deterministic under any partitioning, one equi-join on the
    cluster id. (Connected-component keeper semantics are the separate
    q_dup_clusters operator; SemDeDup itself keeps one exemplar per
    near-duplicate neighborhood, which the witness rule reproduces for
    the tight-pair case.)

100 TB posture: the only corpus-sized shuffles are the assignment
window (partitioned by doc id — re-expressible as max_by if the window
ever shows up in a profile) and the within-cluster self-equi-join whose
volume is sum_c |c|^2 — bounded by target_cluster_size * N, tunable,
and the exact knob SemDeDup's k controls. The seed table is collected
and embedded in the plan as a literal: k·dim floats.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rag_pipelines_spark.operators.vecexpr import cos9, dot_dec, norm2

__all__ = [
    "semantic_dedup",
    "ivf_topk_exact",
    "hash_min_seeds",
    "nearest_seeds",
    "probe_topk",
]


# Margin between the float64-matmul cosine and the exact decimal-fold
# cos9: the decimal(30,15) per-element rounding perturbs a 64-dim dot by
# <= 3.2e-14, float64 accumulation by ~1e-14, and round-9 by 5e-10 —
# 1e-6 is ~1000x the worst stack-up, so the pruned candidate set
# provably contains the exact top n.
_ASSIGN_MARGIN = 1e-6


def _margin_candidates_udf(seed_mat, n):
    """array<int> of seed INDICES (rows of `seed_mat`) whose float64
    cosine is within _ASSIGN_MARGIN of the row's n-th best float cosine —
    the cheap Arrow-batched pre-pass that prunes each row's k seeds down
    to ~n exact-scored candidates.

    Exact because each float cosine sits within half the margin of its
    exact cos9: a seed below the n-th best float cosine minus the margin has n
    seeds strictly above it in the exact order too. A row with fewer than
    n finite scores (null or zero-norm vector, n >= k) keeps every seed,
    so the exact rank decides it. Index-keyed so the id type stays opaque
    (string / decimal ids work). A vector whose length differs from the
    seed dimension fails fast with a clear message (np.asarray over a
    ragged batch would otherwise build an object array and surface an
    opaque executor-side matmul error).
    """
    k, dim = seed_mat.shape
    every = list(range(k))
    mat_t = seed_mat.T  # (d, k)
    seed_norms = np.sqrt((seed_mat * seed_mat).sum(axis=1))

    @pandas_udf("array<int>")
    def f(v: pd.Series) -> pd.Series:
        vals = v.tolist()
        out = [every] * len(vals)
        live = [i for i, t in enumerate(vals) if t is not None]
        if live and k:
            bad = next((i for i in live if len(vals[i]) != dim), None)
            if bad is not None:
                raise ValueError(
                    f"nearest_seeds: embedding length {len(vals[bad])} "
                    f"!= seed dimension {dim} — ragged vector column"
                )
        if live and n < k:
            x = np.asarray([vals[i] for i in live], dtype=np.float64)
            xn = np.sqrt((x * x).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (x @ mat_t) / (xn[:, None] * seed_norms[None, :])
            cos = np.where(np.isfinite(cos), cos, -np.inf)
            nth = -np.partition(-cos, n - 1, axis=1)[:, n - 1]
            for j, i in enumerate(live):
                if nth[j] != -np.inf:
                    out[i] = np.flatnonzero(cos[j] >= nth[j] - _ASSIGN_MARGIN).tolist()
        return pd.Series(out, dtype=object)

    return f


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    target_cluster: int = 32,
) -> DataFrame:
    """(id_col, cluster_id, kept) for every input row; kept = 0 iff a
    smaller-id same-cluster row has cosine >= threshold. Clusters are the
    k = ceil(n / target_cluster) hash-seeded corpus vectors
    (deterministic, oracle-portable), each row in its nearest one."""
    norms = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("n2"),
    )
    seeds = hash_min_seeds(norms, max(1, math.ceil(emb.count() / target_cluster)))
    assigned = nearest_seeds(norms, seeds, 1)
    a = assigned.select(
        F.col("id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("n2").alias("an2"),
        F.col("cell").alias("cluster_id"),
    )
    b = assigned.select(
        F.col("id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("n2").alias("bn2"),
        F.col("cell").alias("cluster_id"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            cos9(dot_dec(F.col("av"), F.col("bv")), F.col("an2"), F.col("bn2"))
            >= F.lit(threshold)
        )
        .select("b_id")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned["id"] == dropped["b_id"], "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").alias("cluster_id"),
            F.when(F.col("b_id").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


def hash_min_seeds(norms: DataFrame, k: int) -> DataFrame:
    """(seed_id, sv, sn2) — the k rows of an (id, v, n2) frame with the
    smallest (md5(id), id): the deterministic IVF cells semantic_dedup,
    ivf_topk_exact and the incremental ANN state (operators/annstate.py)
    all use, reproduced bit-for-bit by the DuckDB oracles."""
    return (
        norms.select(
            F.col("id").alias("seed_id"),
            F.col("v").alias("sv"),
            F.col("n2").alias("sn2"),
            F.md5(F.col("id").cast("string")).alias("h"),
        )
        .orderBy("h", "seed_id")  # distributed top-k, no global sort
        .limit(k)
        .drop("h")
    )


def nearest_seeds(frame: DataFrame, seeds: DataFrame, n: int) -> DataFrame:
    """(id, v, n2, cell) — each (id, v, n2) row's n nearest (seed_id, sv,
    sn2) seeds, by (round-9 cosine desc, seed_id asc), nulls last on both
    engines.

    Two-phase, so no row pays k interpreted decimal folds: the seeds are
    collected (k x dim doubles, centroid-sized), one float64 Arrow matmul
    per batch keeps each row's within-margin candidates
    (`_margin_candidates_udf`, ~n per row), and only those index the
    seed rows, embedded in the plan as one literal array, for the exact
    cos9 and the rank. The corpus never shuffles for scoring and no seed
    table is joined or broadcast; the rank window is the only exchange.
    """
    from pyspark.sql.types import ArrayType

    seeds = seeds.select("seed_id", "sv", "sn2")
    rows = seeds.collect()
    dims = {len(r.sv) for r in rows if r.sv is not None}
    if len(dims) > 1:
        raise ValueError(
            f"nearest_seeds: seed vectors have mixed lengths {sorted(dims)}"
            " — ragged vector column"
        )
    dim = dims.pop() if dims else 0
    # a null-vector seed keeps its index as a zero row: -inf float cosine,
    # so it is a candidate only where every seed is
    seed_mat = np.asarray(
        [r.sv if r.sv is not None else [0.0] * dim for r in rows],
        dtype=np.float64,
    ).reshape(len(rows), dim)
    cand_udf = _margin_candidates_udf(seed_mat, n)
    # the seed rows as ONE plan literal: JSON text parsed against the
    # seed schema (constant-folded once; doubles round-trip exactly), so
    # the id stays type-opaque (string / decimal ids work) and plan
    # construction is one string, not k*dim literal nodes
    table = F.from_json(
        F.lit(json.dumps([r.asDict() for r in rows], default=str)),
        ArrayType(seeds.schema),
    )
    scored = (
        frame.withColumn("_sidx", F.explode(cand_udf(F.col("v"))))
        .withColumn("_s", table[F.col("_sidx")])
        .select(
            "id",
            "v",
            "n2",
            F.col("_s.seed_id").alias("seed_id"),
            cos9(
                dot_dec(F.col("v"), F.col("_s.sv")), F.col("n2"), F.col("_s.sn2")
            ).alias("scos"),
        )
    )
    # nulls last on BOTH engines (DuckDB DESC defaults nulls-first)
    w = Window.partitionBy("id").orderBy(F.desc_nulls_last("scos"), F.asc("seed_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
        .select("id", "v", "n2", F.col("seed_id").alias("cell"))
    )


def probe_topk(
    queries_norms: DataFrame,
    seeds: DataFrame,
    postings: DataFrame,
    nprobe: int,
    k: int,
) -> DataFrame:
    """(q_id, c_id, cosine, rk) — each (id, v, n2) query probes its
    `nprobe` nearest seeds and exact-scores ONLY the (id, v, n2, cell)
    postings in those cells: candidates come from an equi-join on the
    cell id, never query x corpus. Ranked by (cosine desc, c_id asc),
    the exact-baseline contract of q_cosine_topk."""
    probes = nearest_seeds(queries_norms, seeds, nprobe).select(
        F.col("id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        "cell",
    )
    posts = postings.select(
        F.col("id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
        "cell",
    )
    cand = probes.join(posts, "cell").filter(F.col("q_id") != F.col("c_id"))
    scored = cand.select(
        "q_id",
        "c_id",
        cos9(dot_dec(F.col("qv"), F.col("cv")), F.col("qn2"), F.col("cn2")).alias(
            "cosine"
        ),
    ).distinct()  # a candidate reachable via two probed cells scores once
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", "rk")
    )


def ivf_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k_seeds: int = 32,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF approximate top-k with FULLY deterministic, engine-portable
    semantics — the oracle-checked twin of the numpy IVF tier
    (operators/similarity.py::cosine_topk_ivf, rows-only by design).

    The one-shot case of the incremental ANN state
    (operators/annstate.py): cells are `hash_min_seeds` of the corpus,
    every corpus row posts to its nearest cell (`nearest_seeds`), and
    `probe_topk` serves the queries. No float averaging, so DuckDB
    reproduces cells, assignments, probes, and scores bit-for-bit, and
    recall against q_cosine_topk's exact answer is directly measurable.

    Scale: the seed top-k runs once (checkpointed, then collected by
    both `nearest_seeds` passes); each pass is a float64 matmul against
    the k_seeds-row seed matrix plus ~1 exact decimal cosine per corpus
    row (~nprobe per query), with no corpus shuffle for index build;
    candidate scoring is sized |queries|·nprobe·(N/k_seeds). k_seeds is
    fixed here for the verification tier; production sizing (k ~
    sqrt(N), kmeans-refined centroids, multi-probe) lives in
    operators/similarity.py.
    """
    norms = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("n2"),
    )
    seeds = hash_min_seeds(norms, k_seeds).localCheckpoint(eager=True)
    qnorms = queries.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("n2"),
    )
    return probe_topk(qnorms, seeds, nearest_seeds(norms, seeds, 1), nprobe, k)
