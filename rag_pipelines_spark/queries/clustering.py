"""§2.11 north-star tier — iterative k-means clustering and
cluster-balanced curation over the embeddings table.

Three oracle-checked queries over operators/clustering.py:

  q_kmeans_clusters        final Lloyd assignment after 2 updates from
                           hash-seeded starts (k=8, d=64)
  q_kmeans_centroids       final per-cluster mean vectors, long form
  q_cluster_sample_balanced  most-prototypical top-20 per cluster (the
                           density/prototype curation pick, two-phase
                           salted rank on the Spark side)

The DuckDB oracle replays the SAME bounded iteration count as chained
CTEs (one assign + one update pair per iteration, generated by
``_kmeans_with``) — every float crosses engines through the repo's
decimal-fold / round-9 determinism contract (queries/_util.py), so the
driver's value-hash compare is exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.operators.clustering import (
    cluster_balanced_topm,
    kmeans_fit,
)
from rag_pipelines_spark.queries._util import (
    Key,
    Part,
    dec_to_dbl,
    o_dec_to_dbl,
    register_checksum,
    t,
)
from rag_pipelines_spark.registry import register

_K = 8
_ITERS = 2
_D = 64
_M = 20


def _kmeans_with(k: int = _K, iters: int = _ITERS, d: int = _D) -> str:
    """WITH-chain replaying kmeans_fit in DuckDB: c0 = round-9 hash
    seeds; per step i, el/d/a{i} assign every vector to its nearest
    centroid (decimal-fold distances, ties to lowest cluster) and
    m/c{i+1} recompute round-9 means. Final assignment = a{iters}."""
    parts = [
        f"""seed_rows AS (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})""",
        """c0 AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS cluster,
               list_transform(embedding,
                              x -> round(CAST(x AS DOUBLE), 9)) AS cen
        FROM seed_rows)""",
    ]
    for i in range(iters + 1):
        parts.append(
            f"""el{i} AS (
            SELECT e.vec_id, c.cluster,
                   unnest(e.embedding) AS x, unnest(c.cen) AS y
            FROM embeddings e CROSS JOIN c{i} c)"""
        )
        parts.append(
            f"""d{i} AS (
            SELECT vec_id, cluster,
                   SUM(CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)
                            AS DECIMAL(30,15))) AS dist
            FROM el{i} GROUP BY vec_id, cluster)"""
        )
        parts.append(
            f"""a{i} AS (
            SELECT vec_id, cluster, dist FROM (
                SELECT vec_id, cluster, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rk
                FROM d{i}) WHERE rk = 1)"""
        )
        if i < iters:
            parts.append(
                f"""m{i + 1} AS (
                SELECT a{i}.cluster AS cluster, t.dim AS dim,
                       SUM(CAST(CAST(e.embedding[t.dim] AS DOUBLE)
                                AS DECIMAL(30,15))) AS s,
                       COUNT(*) AS n
                FROM a{i} JOIN embeddings e USING (vec_id)
                     CROSS JOIN range(1, {d + 1}) t(dim)
                GROUP BY a{i}.cluster, t.dim)"""
            )
            parts.append(
                f"""c{i + 1} AS (
                SELECT cluster,
                       list(round({o_dec_to_dbl("s")} / n, 9)
                            ORDER BY dim) AS cen
                FROM m{i + 1} GROUP BY cluster)"""
            )
    return "WITH " + ",\n".join(parts)


_FINAL = f"a{_ITERS}"

_KMC_ORACLE = f"""
    {_kmeans_with()}
    SELECT vec_id, cluster,
           round({o_dec_to_dbl("dist")}, 9) AS dist9
    FROM {_FINAL}
"""


@register(
    "q_kmeans_clusters",
    oracle=_KMC_ORACLE,
    doc="Lloyd k-means assignment after 2 bounded updates from hash-seeded "
    "starts (operators/clustering.py). Scale: assignment is zero-shuffle "
    "literal-centroid column math; each update shuffles k rows; the only "
    "driver data is the k x d centroid frame (similarity.py:254 precedent)",
)
def q_kmeans_clusters(spark, sf_dir):
    assigned, _ = kmeans_fit(
        t(spark, sf_dir, "embeddings"), k=_K, iters=_ITERS, d=_D
    )
    return assigned.select(
        "vec_id",
        "cluster",
        F.round(dec_to_dbl(F.col("dist")), 9).alias("dist9"),
    )


register_checksum(
    "q_kmeans_clusters",
    key=Key("vec_id", buckets=32),
    parts=["vec_id", "cluster", Part("dist9", scale=9)],
    doc="bounded differential form of q_kmeans_clusters for the "
    "sf-scaling sweeps (headline output is one row per vector): wraps "
    "the headline fn and oracle VERBATIM and reduces to 32 md5-prefix "
    "bucket rows — count plus an XOR of per-vector digests over "
    "(vec_id, cluster, round(dist9*1e9))",
)


@register(
    "q_kmeans_centroids",
    oracle=f"""
    {_kmeans_with()}
    SELECT {_FINAL}.cluster AS cluster, t.dim AS dim, COUNT(*) AS n,
           round({o_dec_to_dbl(
               "SUM(CAST(CAST(e.embedding[t.dim] AS DOUBLE)"
               " AS DECIMAL(30,15)))"
           )} / COUNT(*), 9) AS c
    FROM {_FINAL} JOIN embeddings e USING (vec_id)
         CROSS JOIN range(1, {_D + 1}) t(dim)
    GROUP BY {_FINAL}.cluster, t.dim
    """,
    doc="final per-cluster mean vectors in long (cluster, dim) form — one "
    "posexplode + a map-side-combinable hash agg over k x d groups; the "
    "shuffle is k*d rows, never the corpus",
)
def q_kmeans_centroids(spark, sf_dir):
    assigned, _ = kmeans_fit(
        t(spark, sf_dir, "embeddings"), k=_K, iters=_ITERS, d=_D
    )
    pos = assigned.select(
        "cluster", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("dim", F.col("pos") + 1)
    return (
        pos.groupBy("cluster", "dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("double").cast("decimal(30,15)")).alias("_s"),
        )
        .select(
            "cluster",
            "dim",
            "n",
            F.round(dec_to_dbl(F.col("_s")) / F.col("n"), 9).alias("c"),
        )
    )


@register(
    "q_cluster_sample_balanced",
    oracle=f"""
    {_kmeans_with()}
    SELECT vec_id, cluster, rk FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY dist, vec_id) AS rk
        FROM {_FINAL}) WHERE rk <= {_M}
    """,
    doc="cluster-balanced curation: the m most-prototypical members per "
    "cluster (Sorscher et al. 2022 prototype pruning / topic-flattened "
    "sampling). Spark side is a two-phase salted rank so no task ever "
    "ranks a whole cluster (k is small); provably equal to the oracle's "
    "single-phase rank — pinned in tests/test_clustering.py",
)
def q_cluster_sample_balanced(spark, sf_dir):
    assigned, _ = kmeans_fit(
        t(spark, sf_dir, "embeddings"), k=_K, iters=_ITERS, d=_D
    )
    return cluster_balanced_topm(assigned, m=_M)


_KMS_ORACLE = f"""
    WITH b0 AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
    seed_rows AS (
        SELECT vec_id, embedding FROM b0
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_K}),
    c0 AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS cluster,
               list_transform(embedding,
                              x -> round(CAST(x AS DOUBLE), 9)) AS cen
        FROM seed_rows),
    hist AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 IN (0, 1)),
    el AS (
        SELECT h.vec_id, c.cluster,
               unnest(h.embedding) AS x, unnest(c.cen) AS y
        FROM hist h CROSS JOIN c0 c),
    dd AS (
        SELECT vec_id, cluster,
               SUM(CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)
                        AS DECIMAL(30,15))) AS dist
        FROM el GROUP BY vec_id, cluster),
    aa AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rk
            FROM dd) WHERE rk = 1),
    m AS (
        SELECT aa.cluster AS cluster, t.dim AS dim,
               SUM(CAST(CAST(h.embedding[t.dim] AS DOUBLE)
                        AS DECIMAL(30,15))) AS s,
               COUNT(*) AS n
        FROM aa JOIN hist h USING (vec_id)
             CROSS JOIN range(1, {_D + 1}) t(dim)
        GROUP BY aa.cluster, t.dim),
    cen AS (
        SELECT cluster,
               list(round({o_dec_to_dbl("s")} / n, 9) ORDER BY dim) AS cen
        FROM m GROUP BY cluster),
    inc AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 2),
    el2 AS (
        SELECT i.vec_id, c.cluster,
               unnest(i.embedding) AS x, unnest(c.cen) AS y
        FROM inc i CROSS JOIN cen c),
    dd2 AS (
        SELECT vec_id, cluster,
               SUM(CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)
                        AS DECIMAL(30,15))) AS dist
        FROM el2 GROUP BY vec_id, cluster)
    SELECT vec_id, cluster, round({o_dec_to_dbl("dist")}, 9) AS dist9
    FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rk
        FROM dd2) WHERE rk = 1
"""


@register(
    "q_kmeans_from_state",
    oracle=_KMS_ORACLE,
    doc="score-before-ingest k-means from ACCRETED state (the 10th "
    "continuous-ingest family, operators/kmeansstate.py): two corpus "
    "slices fold per-(cluster, dim) decimal sums into rollup state under "
    "FROZEN batch-0 seeds; the incoming slice is assigned against the "
    "served accreted-mean centroids without re-reading history — "
    "state-served == direct recompute is what this oracle pins",
)
def q_kmeans_from_state(spark, sf_dir):
    import shutil

    from rag_pipelines_spark.operators.kmeansstate import (
        kmeans_assign_from_state,
        merge_kmeans_state,
    )
    from rag_pipelines_spark.queries.sources import _scratch

    state = _scratch("kmeans-serve", sf_dir)
    shutil.rmtree(state, ignore_errors=True)  # additive state: fresh per run
    e = t(spark, sf_dir, "embeddings")
    for epoch, sl in ((0, 0), (1, 1)):
        merge_kmeans_state(
            spark,
            e.filter(F.col("vec_id") % 3 == sl),
            state,
            "vec_id",
            "embedding",
            k=_K,
            epoch=epoch,
        )
    incoming = e.filter(F.col("vec_id") % 3 == 2)
    out = kmeans_assign_from_state(spark, incoming, state, "vec_id", "embedding")
    return out.select(
        "vec_id",
        "cluster",
        F.round(dec_to_dbl(F.col("dist")), 9).alias("dist9"),
    )


register_checksum(
    "q_kmeans_from_state",
    key=Key("vec_id", buckets=32),
    parts=["vec_id", "cluster", Part("dist9", scale=9)],
    doc="bounded differential form of q_kmeans_from_state for the "
    "sf-scaling sweeps: wraps the headline fn and oracle VERBATIM, "
    "reduced to 32 md5-prefix bucket rows",
)
