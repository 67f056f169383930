"""Distributed Lloyd k-means over embedding columns, bit-reproducible.

Why it exists: cluster-structure is the backbone of several modern
training-data curation recipes — SemDeDup prunes within clusters
(operators/semdedup.py seeds centroids by hash but never iterates),
SSL-prototype / density-based pruning (Sorscher et al. 2022) keeps the
most/least prototypical members per cluster, and cluster-balanced
sampling flattens topic skew before mixing. The reference pipeline has
no clustering (its corpus is one domain); this is the §2.11 north-star
tier generalized the same way DSIR generalizes its quality filter.

Spark-first / 100 TB posture:
  * Centroids are the ONLY driver-side data (k x d doubles per
    iteration — the same centroid-sized collect precedent as
    operators/similarity.py:254). The corpus never leaves executors
    and is scanned once per iteration.
  * Assignment is per-row math at any k (zero join, zero shuffle, no
    window): one Arrow float64 pass keeps each row's candidate
    centroids, those whose double distance is within the decimal error
    margin of its best (almost always one), and only candidates pay the
    exact decimal fold against the literal centroid array. argmin =
    array_min over (dist, pos) structs with centroids sorted by cluster
    id, so ties break to the lowest cluster id.
  * The per-iteration update is ONE map-side-combinable hash agg whose
    shuffle is k rows x d decimal sums — never the corpus. This is
    exactly MLlib KMeans' physical shape (broadcast centers + one
    reduce per iteration), re-expressed as a Catalyst plan.
  * Iterations are bounded (``iters``), so a fit costs `iters+1` map
    passes over the corpus and `iters` k-row shuffles.

Cross-engine determinism (the oracle contract, queries/clustering.py):
fp32 inputs cast to double are exact; per-dim (x - c)^2 is scalar IEEE
math on identical inputs; sums fold through DECIMAL(30,15)
(order-independent, the q_cosine_topk precedent); every published
centroid coordinate is round(dec_to_dbl(sum)/n, 9) — so Spark and
DuckDB agree bitwise at any partitioning. Empty clusters are dropped
(standard Lloyd), identically in both engines.

Reference parity anchor: beyond-reference §2.11 tier (SURVEY.md — the
reference's closest analogue is its one-shot similarity filtering in
match_fda_pubmed.py; clustering is the corpus-curation generalization).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rag_pipelines_spark.queries._util import dec_to_dbl

__all__ = [
    "seed_centroids",
    "assign_clusters",
    "centroid_update",
    "kmeans_fit",
    "cluster_balanced_topm",
]

_DEC = "decimal(30,15)"

# Scale on assign_clusters' boundary-risk margin (1e9 sends every row down
# the decimal argmin; tests/test_clustering.py pins the equality).
_KMEANS_GUARD = 1.0


def _round9(c: Column) -> Column:
    return F.round(c, 9)


def seed_centroids(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """k hash-seeded starting centroids: the k rows with the smallest
    md5(id) (engine-portable, partitioning-invariant — the annstate /
    semdedup seeding scheme), numbered 0..k-1 in that order, each
    coordinate round-9 (the uniform centroid contract).

    The pick is a TakeOrderedAndProject (top-k by the hash, never a
    global sort); the collect is k rows.
    """
    rows = (
        df.select(
            F.md5(F.col(id_col).cast("string")).alias("_h"),
            F.col(id_col).alias("_id"),
            F.transform(
                F.col(vec_col), lambda x: _round9(x.cast("double"))
            ).alias("_v"),
        )
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    return [(j, list(r["_v"])) for j, r in enumerate(rows)]


def assign_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster, dist): nearest centroid per row, ties to the
    lowest cluster id. Pure per-row expression — no join, no shuffle."""
    if not centroids:
        raise ValueError(
            "assign_clusters needs at least one centroid (empty input "
            "frame? seed_centroids returns [] on one)"
        )
    # Built as parsed SQL strings instead of k*d py4j-assembled Column
    # nodes (the vecexpr.py hof_* rationale). The centroids, sorted by
    # cluster id, are ONE literal array<array<double>>: JSON text that
    # constant-folds once and round-trips doubles exactly, so plan
    # construction stays ~0.1 s at any k (k*d CAST literals took 0.25 s
    # at k=8 and 2.1 s at k=256, d=64; local[4], sf0.1).
    #
    # Guarded evaluation (the maxsim_scores recipe): an exact decimal
    # distance pays one CAST(double AS DECIMAL) per dim, but the argmin
    # only needs the ORDER of the distances. _centroid_candidates_udf keeps
    # each row's candidates — the centroids whose double distance is
    # within the decimal-vs-double error margin of the row's best — so
    # the decimal winner is always among them. Most rows have one
    # candidate and pay no decimal fold; the rest take array_min over
    # (exact dist, pos) of their candidates only — pos order is cluster
    # id order, so ties still go to the lowest cluster id. The published
    # `dist` is the winner's exact decimal fold, evaluated only when a
    # caller selects the column (Lloyd's intermediate passes never do).
    # _KMEANS_GUARD scales the margin (1e9 makes every centroid a
    # candidate; equality is pinned in tests/test_clustering.py and by
    # the unchanged oracle hashes).
    from rag_pipelines_spark.operators.vecexpr import hof_sqdist_dec_sql

    order = sorted(centroids, key=lambda t: t[0])
    cents = (
        f"from_json('{json.dumps([c for _, c in order])}',"
        " 'array<array<double>>')"
    )
    ids = "array(" + ", ".join(str(int(j)) for j, _ in order) + ")"

    def dist(pos: str) -> str:
        return hof_sqdist_dec_sql(f"`{vec_col}`", f"{cents}[{pos}]")

    pos_expr = (
        "CASE WHEN size(_c) = 1 THEN _c[0] ELSE array_min(transform(_c,"
        f" p -> named_struct('dist', {dist('p')}, 'pos', p))).pos END"
    )
    am = _centroid_candidates_udf(order, _KMEANS_GUARD)
    return (
        df.withColumn("_c", am(F.col(vec_col)))
        .selectExpr(f"`{id_col}`", f"`{vec_col}`", f"{pos_expr} AS _pos")
        .selectExpr(
            f"`{id_col}`",
            f"`{vec_col}`",
            f"{ids}[_pos] AS cluster",
            f"{dist('_pos')} AS dist",
        )
    )


def _centroid_candidates_udf(
    order: list[tuple[int, list[float]]], guard: float
):
    """Arrow-vectorized candidate positions (into the id-sorted `order`)
    for the guarded assignment: one numpy broadcast per batch — the
    operators/similarity.py LSH-bucketize precedent for exactly this
    interpreted-per-element trap.

    Per-dim (x - c)^2 is the identical IEEE double math the decimal fold
    quantizes; numpy's pairwise summation error is <= ceil(log2 d)*eps*
    dist (tighter than the left-to-right bound). Centroid j is a
    candidate when d_j - d_best <= guard * (1e-12 + d*1e-15 +
    1.4e-14*(d_best + d_j)) — covering 2x the per-term HALF_UP
    quantization (d*0.5e-15 per distance) plus summation, so any
    centroid outside the margin is provably farther in exact decimal
    too. Decimal ties (equal exact distances) have double gap <= margin,
    so every tied centroid stays a candidate and the exact stage breaks
    the tie to the lowest cluster id."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray([c for _, c in order], dtype=np.float64)  # (k, d)
    d = C.shape[1]

    @pandas_udf("array<int>")
    def f(s: pd.Series) -> pd.Series:
        if len(s) == 0:  # Arrow can hand a 0-row batch; np.stack([]) raises
            return pd.Series([], dtype=object)
        X = np.stack(s.to_numpy())  # (n, d) float64
        dists = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        best = dists.min(axis=1, keepdims=True)
        margin = guard * (1e-12 + d * 1e-15 + 1.4e-14 * (best + dists))
        return pd.Series(
            [np.flatnonzero(m) for m in (dists - best) <= margin],
            dtype=object,
        )

    return f


def centroid_update(
    assigned: DataFrame, d: int, vec_col: str = "embedding"
) -> DataFrame:
    """(cluster, n, c_0..c_{d-1}): new round-9 centroid per non-empty
    cluster. One hash agg — partial (map-side) sums of d decimals plus a
    count; the shuffle is k rows."""
    from rag_pipelines_spark.operators.vecexpr import dec_to_dbl_sql

    agg = assigned.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[
            F.expr(
                f"SUM(CAST(CAST(`{vec_col}`[{i}] AS DOUBLE) AS {_DEC}))"
            ).alias(f"_s{i}")
            for i in range(d)
        ],
    )
    return agg.selectExpr(
        "cluster",
        "n",
        *[
            f"round({dec_to_dbl_sql(f'_s{i}')} / n, 9) AS c_{i}"
            for i in range(d)
        ],
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    iters: int,
    d: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Lloyd's algorithm, `iters` centroid updates from hash-seeded
    starts. Returns (final assignment DataFrame, final centroid list).

    Each iteration materializes only the k x (d+1) update frame on the
    driver (the centroid-sized collect precedent); the returned
    assignment is a fresh zero-shuffle plan over literal centroids.
    """
    cents = seed_centroids(df, k, id_col, vec_col)
    for _ in range(iters):
        upd = centroid_update(assign_clusters(df, cents, id_col, vec_col), d, vec_col)
        rows = upd.collect()
        cents = sorted(
            (int(r["cluster"]), [r[f"c_{i}"] for i in range(d)]) for r in rows
        )
    return assign_clusters(df, cents, id_col, vec_col), cents


def cluster_balanced_topm(
    assigned: DataFrame,
    m: int,
    id_col: str = "vec_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Most-prototypical m rows per cluster (smallest distance, id
    tie-break) — the cluster-balanced curation pick.

    Two-phase so no single task ranks a whole cluster (k is small, so a
    plain partitionBy(cluster) window funnels ~n/k rows through one
    task at 100 TB): phase 1 ranks within (cluster, salt) where salt =
    pmod(xxhash64(id), salt_buckets) and keeps m per salted group;
    phase 2 ranks the <= k*salt_buckets*m survivors within cluster.
    Output is provably identical to the single-phase rank (any global
    top-m member is top-m within its salt bucket) — pinned by
    tests/test_clustering.py.
    """
    salted = assigned.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("cluster", "_salt").orderBy("dist", id_col)
    survivors = (
        salted.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= m)
        .drop("_rk1", "_salt")
    )
    w2 = Window.partitionBy("cluster").orderBy("dist", id_col)
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= m)
        .select(id_col, "cluster", "rk")
    )
