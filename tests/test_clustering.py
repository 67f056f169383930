"""Pins for operators/clustering.py (Lloyd k-means + balanced curation).

The oracle queries themselves are differential-checked in test_oracle /
driver_sim; these tests pin the operator-level contracts the oracle
can't see: two-phase-rank equivalence, monotone improvement, empty
cluster semantics, and the zero-shuffle assignment plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rag_pipelines_spark.io import table
from rag_pipelines_spark.operators.clustering import (
    assign_clusters,
    cluster_balanced_topm,
    kmeans_fit,
    seed_centroids,
)
from tests.conftest import SF_DIR_SMOKE


def _emb(spark):
    return table(spark, SF_DIR_SMOKE, "embeddings")


def test_balanced_topm_equals_single_phase_rank(spark):
    """The salted two-phase top-m must be row-identical to the plain
    single-phase rank, for several salt widths (including 1 = degenerate
    single-phase and a width larger than any cluster)."""
    assigned, _ = kmeans_fit(_emb(spark), k=8, iters=1, d=64)
    assigned = assigned.cache()
    w = Window.partitionBy("cluster").orderBy("dist", "vec_id")
    expect = sorted(
        assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("vec_id", "cluster", "rk")
        .collect()
    )
    for buckets in (1, 4, 1024):
        got = sorted(
            cluster_balanced_topm(assigned, m=20, salt_buckets=buckets).collect()
        )
        assert got == expect, f"salt_buckets={buckets} diverged"
    assigned.unpersist()


def test_lloyd_iterations_do_not_increase_cost(spark):
    """Total within-cluster squared distance is non-increasing in the
    iteration count (the Lloyd invariant — catches a wrong argmin or a
    mean computed over the wrong membership)."""
    emb = _emb(spark)
    costs = []
    for iters in (0, 1, 2):
        assigned, _ = kmeans_fit(emb, k=8, iters=iters, d=64)
        costs.append(
            assigned.agg(F.sum(F.col("dist").cast("double"))).collect()[0][0]
        )
    assert costs[1] <= costs[0] + 1e-9
    assert costs[2] <= costs[1] + 1e-9


def test_empty_clusters_drop_identically(spark):
    """k seeds on a frame with fewer distinct points than k: ties all
    break to the lowest cluster id, the rest go empty and are dropped by
    the update — the fit must survive and keep cluster ids stable."""
    rows = [(i, [1.0, 2.0]) for i in range(3)]  # 3 identical vectors
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    assigned, cents = kmeans_fit(df, k=3, iters=2, d=2)
    got = assigned.select("cluster").distinct().collect()
    assert [r["cluster"] for r in got] == [0]  # all tie to lowest id
    assert len(cents) == 1 and cents[0][0] == 0


def test_assignment_plan_is_zero_shuffle(spark, tmp_path):
    """The assignment stage must be pure column math: no Exchange, no
    join, no window in the physical plan (centroids are literals) — at
    small k and past k*d = 1024 (k=32, d=64), for the batch assignment
    and for the state-served one."""
    from rag_pipelines_spark.operators.kmeansstate import (
        kmeans_assign_from_state,
        merge_kmeans_state,
    )

    emb = _emb(spark)
    state = str(tmp_path / "kmeans")
    merge_kmeans_state(spark, emb, state, "vec_id", "embedding", k=32, epoch=0)
    frames = [assign_clusters(emb, seed_centroids(emb, k=k)) for k in (8, 32)]
    frames.append(kmeans_assign_from_state(spark, emb, state))
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        for mark in ("Exchange", "Join", "Window"):
            assert mark not in plan, f"assignment plan contains {mark}:\n{plan}"


def test_seed_centroids_partitioning_invariant(spark):
    """Hash seeding must not depend on layout: a repartitioned input
    yields the same seeds in the same order."""
    emb = _emb(spark)
    a = seed_centroids(emb, k=8)
    b = seed_centroids(emb.repartition(13, "vec_id"), k=8)
    assert a == b


def test_guarded_argmin_equals_forced_decimal_argmin(spark, monkeypatch):
    """The guarded path (exact decimal distances only for the float-margin
    candidates) must be row-identical — cluster AND exact decimal dist —
    to the all-decimal argmin (_KMEANS_GUARD=1e9 makes every centroid a
    candidate). Runs a full Lloyd fit so the pin covers the iterated
    assignment, not just one pass, at k=8 and at k=32 (k*d = 2048)."""
    from rag_pipelines_spark.operators import clustering

    emb = _emb(spark)

    def rows(k):
        assigned, cents = kmeans_fit(emb, k=k, iters=2, d=64)
        return (
            sorted(
                (r["vec_id"], r["cluster"], r["dist"])
                for r in assigned.collect()
            ),
            cents,
        )

    for k in (8, 32):
        monkeypatch.setattr(clustering, "_KMEANS_GUARD", 1.0)
        fast = rows(k)
        monkeypatch.setattr(clustering, "_KMEANS_GUARD", 1e9)
        slow = rows(k)
        assert fast == slow, f"k={k} diverged"
