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
  * Assignment is pure column math: the k candidate distances fold
    LITERAL centroid arrays per row (whole-stage codegen; zero join,
    zero shuffle, no window). argmin = array_min over (dist, cluster)
    structs, so ties break to the lowest cluster id.
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

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rag_pipelines_spark.queries._util import dec_to_dbl

__all__ = [
    "seed_centroids",
    "assign_clusters",
    "assign_clusters_join",
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
    # r10 (vecexpr.py rationale): built as ONE parsed SQL string instead
    # of k*d py4j-assembled Column nodes — measured 1.31 s -> 0.28 s plan
    # construction per assignment pass at k=8, d=64.
    #
    # r10 second pass (the maxsim_scores guarded-evaluation recipe): the
    # k exact-decimal distance folds pay one CAST(double AS DECIMAL)
    # BigDecimal construction per dim per centroid per row (~1.9 s per
    # assignment pass at sf0.1), but the argmin only needs the ORDER of
    # the distances. Each decimal distance differs from its plain-double
    # twin by <= 64*0.5e-15 (per-term HALF_UP quantization) +
    # (d-1)*eps*dist (left-to-right summation; terms are squares, so
    # sum of |terms| = the distance itself). So when the two smallest
    # DOUBLE distances are separated by more than the summed margins,
    # the decimal order is provably the same and the winner needs no
    # decimal at all; only boundary-risky rows (and exact decimal ties,
    # which land inside any margin) fall back to the full decimal
    # argmin — preserving the lexicographic tie-to-lowest-cluster
    # contract bit-for-bit. The published `dist` is ALWAYS the winner's
    # exact decimal fold (one CASE branch — evaluated only when a
    # caller selects the column; Lloyd's intermediate passes never do).
    # _KMEANS_GUARD scales the margin (1e9 forces the decimal argmin on
    # every row; equality is pinned in tests/test_clustering.py and by
    # the unchanged oracle hashes).
    from rag_pipelines_spark.operators.vecexpr import hof_sqdist_dec_sql

    dec_structs = [
        f"named_struct('dist', {hof_sqdist_dec_sql(f'`{vec_col}`', [float(c) for c in cen])},"
        f" 'cluster', {int(j)})"
        for j, cen in centroids
    ]
    dec_best = f"array_min(array({', '.join(dec_structs)}))"
    dist_expr = "CASE cluster " + " ".join(
        f"WHEN {int(j)} THEN {hof_sqdist_dec_sql(f'`{vec_col}`', [float(c) for c in cen])}"
        for j, cen in centroids
    ) + " END"
    am = _guarded_argmin_udf(centroids, _KMEANS_GUARD)
    cluster_expr = (
        "CASE WHEN NOT _g.risky THEN _g.j"
        f" ELSE ({dec_best}).cluster END"
    )
    return (
        df.withColumn("_g", am(F.col(vec_col)))
        .selectExpr(
            f"`{id_col}`", f"`{vec_col}`", f"{cluster_expr} AS cluster"
        )
        .selectExpr(
            f"`{id_col}`", f"`{vec_col}`", "cluster", f"{dist_expr} AS dist"
        )
    )


def _guarded_argmin_udf(centroids: list[tuple[int, list[float]]],
                        guard: float):
    """Arrow-vectorized double argmin + boundary-risk flag for the
    guarded assignment (one numpy broadcast per batch — the
    operators/similarity.py LSH-bucketize precedent for exactly this
    interpreted-per-element trap; measured ~1 s/pass as an aggregate-HOF
    fold at sf0.1, ~0.1 s vectorized).

    Per-dim (x - c)^2 is the identical IEEE double math the decimal fold
    quantizes; numpy's pairwise summation error is <= ceil(log2 d)*eps*
    dist (tighter than the left-to-right bound). risky = the two
    smallest double distances sit within margin = guard * (1e-12 +
    d*1e-15 + 1.4e-14*(d0+d1)) of each other — covering 2x the per-term
    HALF_UP quantization (d*0.5e-15 per distance) plus summation, so a
    non-risky double winner IS the decimal winner. Decimal ties (equal
    exact distances) have double gap <= margin, so the tie-to-lowest-
    cluster contract always reaches the decimal branch."""
    from pyspark.sql.functions import pandas_udf

    order = sorted(centroids, key=lambda t: t[0])
    C = np.asarray([c for _, c in order], dtype=np.float64)  # (k, d)
    js = np.asarray([j for j, _ in order], dtype=np.int32)
    d = C.shape[1]
    k = C.shape[0]

    @pandas_udf("struct<j: int, risky: boolean>")
    def f(s: pd.Series) -> pd.DataFrame:
        if len(s) == 0:  # Arrow can hand a 0-row batch; np.stack([]) raises
            return pd.DataFrame(
                {"j": np.array([], dtype=np.int32),
                 "risky": np.array([], dtype=bool)}
            )
        X = np.stack(s.to_numpy())  # (n, d) float64
        dists = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        best = dists.argmin(axis=1)  # first (lowest j) on exact ties
        if k > 1:
            two = np.partition(dists, 1, axis=1)[:, :2]
            margin = guard * (1e-12 + d * 1e-15 + 1.4e-14 * two.sum(axis=1))
            risky = (two[:, 1] - two[:, 0]) <= margin
        else:
            risky = np.zeros(len(best), dtype=bool)
        return pd.DataFrame({"j": js[best], "risky": risky})

    return f


def assign_clusters_join(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same contract as assign_clusters, built as a broadcast-join plan.

    The literal-expression path embeds k*d fold nodes in the plan —
    ideal for small k (zero shuffle, whole-stage codegen) but plan
    compile cost grows O(k*d). Past ~1k centroid cells the broadcast
    nested-loop join + one map-side-combinable min(struct) agg wins:
    the k-row seeds frame broadcasts, every (row, centroid) distance is
    the SAME decimal fold, and the argmin is min over (dist, cluster)
    structs — lexicographic, so ties still break to the lowest cluster
    id and the output is row-identical to assign_clusters (pinned in
    tests/test_clustering.py). Shuffle = one partial-aggregated n-row
    min shuffle."""
    spark = df.sparkSession
    seeds = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cluster int, cen array<double>",
    )
    sq = F.zip_with(
        F.col(vec_col),
        F.col("cen"),
        lambda x, y: ((x.cast("double") - y) * (x.cast("double") - y)).cast(
            _DEC
        ),
    )
    dist = F.aggregate(sq, F.lit(0).cast(_DEC), lambda a, s: (a + s).cast(_DEC))
    scored = df.crossJoin(F.broadcast(seeds)).select(
        F.col(id_col), F.col(vec_col), F.col("cluster"), dist.alias("dist")
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct("dist", "cluster", vec_col)).alias("_b")
    )
    return best.select(
        F.col(id_col),
        F.col(f"_b.{vec_col}").alias(vec_col),
        F.col("_b.cluster").alias("cluster"),
        F.col("_b.dist").alias("dist"),
    )


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
