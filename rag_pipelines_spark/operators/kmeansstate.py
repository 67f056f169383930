"""Incremental k-means centroid state — cluster structure maintained
continuously, without ever re-reading history.

The 10th continuous-ingest state family (streaming/incremental.py).
Contract, combining two existing disciplines:

  * **Cluster identity freezes at first init** (the annstate
    frozen-seeds rule, operators/annstate.py:13): the k hash-min
    vectors of the first non-empty batch become the permanent
    assignment anchors. Re-deriving anchors per batch would silently
    re-shuffle history's cluster membership — the one thing an
    incremental operator must never do. Re-clustering = new state root.
  * **Centroids evolve as accreted means** (the rollup contract,
    operators/rollup.py): each batch assigns against the FROZEN seeds
    (zero-shuffle literal math, operators/clustering.py) and folds
    per-(cluster, dim) decimal sums + member counts into rollup state —
    so the merge cost tracks the batch, the state stays k x d rows, and
    the served centroid is the exact mean of EVERYTHING ingested so
    far, bit-identical to a one-shot recompute no matter how history
    was sliced into batches (decimal sums are associative).

This is mini-batch / streaming k-means with a sound exactly-once story:
merge_rollup's epoch guard makes replays no-ops, and the seeds parquet
is written BEFORE the first merge commit from deterministic hash-min
rows, so a crash between the two leaves a state the replay rewrites
byte-identically.

Serving (history never re-read):
  * `kmeans_centroids_from_state` — the k x d accreted-mean table;
  * `kmeans_assign_from_state` — score-before-ingest: assign an
    incoming batch against the centroids accreted SO FAR (the
    q_lm_from_state / q_dsir_from_state shape).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.clustering import (
    assign_clusters,
    seed_centroids,
)
from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup
from rag_pipelines_spark.operators.state import live_version_dir
from rag_pipelines_spark.queries._util import dec_to_dbl

__all__ = [
    "merge_kmeans_state",
    "read_kmeans_seeds",
    "kmeans_centroids_from_state",
    "kmeans_assign_from_state",
]


def _seeds_dir(state_path: str) -> str:
    return os.path.join(state_path, "seeds")


def _sums_path(state_path: str) -> str:
    return os.path.join(state_path, "sums")


def read_kmeans_seeds(spark, state_path: str) -> list[tuple[int, list[float]]]:
    rows = spark.read.parquet(_seeds_dir(state_path)).collect()
    return sorted((int(r["cluster"]), list(r["cen"])) for r in rows)


def merge_kmeans_state(
    spark,
    emb: DataFrame,
    state_path: str,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    epoch: int | None = None,
) -> None:
    """Fold one batch of embeddings into the centroid state.

    First non-empty batch freezes the seeds (k hash-min round-9
    vectors — deterministic, so a crash-replay rewrites them
    byte-identically); every batch assigns against the stored seeds and
    accretes (cluster, dim) -> (sum x, count) through merge_rollup's
    epoch-guarded exactly-once merge. The batch-sized work is one
    zero-shuffle assignment pass + one map-side-combinable agg whose
    shuffle is <= k*d rows."""
    if live_version_dir(_sums_path(state_path), what="rollup state") is None:
        if not emb.take(1):
            return  # nothing to freeze seeds from: state stays fresh
        seeds = seed_centroids(emb, k, id_col, vec_col)
        # seeds BEFORE the first merge commit: deterministic rewrite on
        # replay (annstate discipline)
        spark.createDataFrame(
            [(c, v) for c, v in seeds],
            "cluster int, cen array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(_seeds_dir(state_path))
    else:
        seeds = read_kmeans_seeds(spark, state_path)
    # zero-shuffle assignment at any k: literal centroids, exact decimal
    # distances only for each row's float-margin candidates
    assigned = assign_clusters(emb, seeds, id_col, vec_col)
    long = assigned.select(
        "cluster", F.posexplode(F.col(vec_col)).alias("pos", "_x")
    ).select(
        "cluster",
        (F.col("pos") + 1).alias("dim"),
        F.col("_x").cast("double").alias("x"),
    )
    merge_rollup(
        spark,
        long,
        _sums_path(state_path),
        keys=["cluster", "dim"],
        measures={"x": ["sum", "count"]},
        epoch=epoch,
    )


def kmeans_centroids_from_state(spark, state_path: str) -> DataFrame:
    """(cluster, dim, n, c): the exact accreted-mean centroids — k x d
    rows read from state, no history scan."""
    return read_rollup(spark, _sums_path(state_path)).select(
        "cluster",
        "dim",
        F.col("count_x").alias("n"),
        F.round(dec_to_dbl(F.col("sum_x")) / F.col("count_x"), 9).alias("c"),
    )


def kmeans_assign_from_state(
    spark,
    df: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist): score-before-ingest — assign an incoming
    batch against the centroids accreted so far (collected k x d, the
    centroid-sized precedent; assignment itself is zero-shuffle)."""
    rows = kmeans_centroids_from_state(spark, state_path).collect()
    byc: dict[int, dict[int, float]] = {}
    for r in rows:
        byc.setdefault(int(r["cluster"]), {})[int(r["dim"])] = r["c"]
    cents = [
        (c, [dims[j + 1] for j in range(len(dims))])
        for c, dims in sorted(byc.items())
    ]
    return assign_clusters(df, cents, id_col, vec_col)
