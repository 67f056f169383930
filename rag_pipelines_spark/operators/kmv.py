"""KMV (k-minimum-values) distinct-count sketch — the oracle-checkable twin
of the HLL family (operators/hllsketch.py).

Spark's hll_sketch_agg registers are engine-specific bytes, so the HLL
serve queries are rows-only at the driver gate. KMV fixes that: the sketch
IS the k smallest values of an engine-portable hash (md5-derived, the
q_simhash_md5 trick), so DuckDB can rebuild the identical sketch and the
identical estimate — a distinct-count SKETCH whose output hash-matches
cross-engine, bit for bit.

Math (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07): hash every distinct
item uniformly into [0, 1); keep the k smallest. With u_k the k-th
smallest, E[|S|] ~ (k-1)/u_k (unbiased), rel. std err ~ 1/sqrt(k-2)
(~6% at k=256). If a group has fewer than k distinct hashes the sketch is
the whole set and the estimate is exact. Unlike HLL, two KMVs also
compose for INTERSECTION: the k smallest of A ∪ B form a uniform sample
of the union, so |{h in K : h in A and h in B}| / |K| estimates the
Jaccard and J * union_est estimates the overlap (set arithmetic HLL
cannot do without inclusion-exclusion blowup).

Scale shape: one distinct shuffle on (keys, h), then a TWO-PHASE k-smallest
(per-(keys, salt) window over bounded groups, then a final window over
<= fanout*k survivors per group) — no group ever sorts its full distinct
set in one task. Sketch state is k longs per group (2 KiB at k=256),
mergeable by re-minimizing the union of hash arrays — the same
"accrete partials, never re-scan history" contract as the other sketch
families.

Hash portability: first 15 md5 nibbles as a long, uniform on [0, 2^60).
Normalization and the (k-1)*2^60/h_k estimate use one double division —
bitwise deterministic cross-engine (constants exactly representable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.freqsketch import _join_null_safe

__all__ = [
    "kmv_sketch",
    "kmv_estimate",
    "kmv_merge",
    "kmv_intersect",
    "merge_kmv",
    "read_kmv",
]

_M = float(1 << 60)  # hash domain size; 2^60 is exactly representable


def _md5_long(c) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _k_smallest(hashes: DataFrame, keys: list[str], k: int, fanout: int = 32):
    """k smallest `h` per keys-group without a group-sized single-task
    sort: phase 1 ranks within (keys, h mod fanout) — bounded groups —
    phase 2 ranks the <= fanout*k survivors."""
    w1 = Window.partitionBy(*keys, "_s").orderBy("h")
    w2 = Window.partitionBy(*keys).orderBy("h")
    return (
        hashes.withColumn("_s", F.pmod(F.col("h"), F.lit(fanout)))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_s", "_r1", "_r2")
    )


def kmv_sketch(
    df: DataFrame, keys: list[str], item_col: str, k: int = 256
) -> DataFrame:
    """Per keys-group KMV state: (keys..., kmv array<long> sorted asc)."""
    hashes = (
        df.filter(F.col(item_col).isNotNull())
        .select(*keys, _md5_long(F.col(item_col).cast("string")).alias("h"))
        .distinct()
    )
    return (
        _k_smallest(hashes, keys, k)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("h")).alias("kmv"))
    )


def _estimate_col(kmv, k: int) -> Column:
    """(k-1)/u_k when the sketch is full, exact size otherwise. The
    constant (k-1)*2^60 is computed driver-side so both engines fold the
    identical double before the single deterministic division."""
    n = F.size(kmv)
    return F.when(n < k, n.cast("double")).otherwise(
        F.lit((k - 1) * _M) / F.element_at(kmv, -1).cast("double")
    )


def kmv_estimate(sketch: DataFrame, keys: list[str], k: int = 256) -> DataFrame:
    return sketch.select(*keys, _estimate_col(F.col("kmv"), k).alias("est_distinct"))


def kmv_merge(a: DataFrame, b: DataFrame, keys: list[str], k: int = 256) -> DataFrame:
    """Union two sketch frames group-wise: re-minimize the merged hash
    arrays (a group present on only one side passes through unchanged)."""
    hashes = (
        a.select(*keys, F.explode("kmv").alias("h"))
        .unionByName(b.select(*keys, F.explode("kmv").alias("h")))
        .distinct()
    )
    return (
        _k_smallest(hashes, keys, k)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("h")).alias("kmv"))
    )


def kmv_intersect(
    a: DataFrame, b: DataFrame, keys: list[str], k: int = 256
) -> DataFrame:
    """Estimated |A ∩ B| per group from the two sketches alone:
    K = k smallest of A ∪ B is a uniform hash-sample of the union;
    members of both sketches estimate the Jaccard; J * union_est is the
    overlap. Inner join on keys (groups missing a side have overlap 0
    by definition — callers union those in if they need them)."""
    j = _join_null_safe(
        a.withColumnRenamed("kmv", "kmv_a"),
        b.withColumnRenamed("kmv", "kmv_b"),
        keys,
        "inner",
    )
    union_k = F.slice(
        F.array_sort(F.array_union("kmv_a", "kmv_b")), 1, k
    )
    both = F.size(
        F.array_intersect(F.array_intersect(union_k, F.col("kmv_a")), F.col("kmv_b"))
    )
    jacc = both.cast("double") / F.size(union_k).cast("double")
    union_est = _estimate_col(union_k, k)
    return j.select(
        *keys,
        (jacc * union_est).alias("est_intersection"),
        union_est.alias("est_union"),
    )


# ---------------------------------------------------------------------------
# Incremental state: folded through operators/state.py::fold_state —
# accrete batches, never re-scan history. KMV union is idempotent and
# associative (k smallest of a union of k-smallest sets == k smallest of
# the union), so accretion == one-shot EXACTLY, merge-tree-invariant at
# the ARRAY level (asserted in tests).
# ---------------------------------------------------------------------------


def merge_kmv(spark, batch: DataFrame, state_path: str, *,
              keys: list[str], item_col: str, k: int = 256,
              epoch: int | None = None,
              state_partitions: int = 1) -> None:
    """Fold one batch into the per-group KMV state. A different `k` is
    refused on every fold: the size<k exact/estimate branch reads array
    length against the CALLER's k. `k` also stays in-band as a column."""
    from rag_pipelines_spark.operators.state import fold_state

    fold_state(
        spark, state_path, what="kmv-sketch state", params={"k": k},
        partial=lambda: kmv_sketch(batch, keys, item_col, k),
        combine=lambda old, part: kmv_merge(old().drop("k"), part, keys, k),
        write=lambda vdir, m: m.withColumn("k", F.lit(k))
        .coalesce(state_partitions).write.mode("overwrite").parquet(vdir),
        epoch=epoch,
    )


def read_kmv(spark, state_path: str) -> DataFrame:
    from rag_pipelines_spark.operators.state import live_version_dir

    live = live_version_dir(state_path, what="kmv-sketch state")
    if live is None:
        raise FileNotFoundError(f"no kmv-sketch state at {state_path}")
    return spark.read.parquet(live)
